"""Round-6 corpus-curation + evaluation operator family.

Beyond-reference operators a large-scale training-data pipeline runs on
top of the retrieval/dedup/cleaning stack already in the engine:

* **cross-encoder-style reranking** (``q_rerank_cross``) — second-stage
  rescoring of the hybrid-retrieval shortlist (Nogueira & Cho 2019 shape:
  expensive scorer over a small candidate list, never the corpus);
* **contamination reporting** (``q_contamination_report``) — the
  per-source rollup of eval-set contamination (the Brown et al. 2020
  appendix-C audit, run as a report instead of a filter);
* **per-class embedding centroids** (``q_embedding_centroid``) — the
  class-prototype vectors used for nearest-centroid eval and drift checks;
* **ranking under small samples** (``q_ctr_wilson``) — Wilson-score
  lower-bound ranking (Wilson 1927), the standard fix for naive-rate
  ranking of low-trial variants;
* **lexical-richness + frequency-spectrum stats** (``q_hapax_report``,
  ``q_freq_spectrum``) — hapax counts per document and the corpus
  frequency-of-frequencies table (the Good–Turing input, Gale & Sampson
  1995);
* **classifier calibration** (``q_calibration_bins``) — reliability-
  diagram binning (Guo et al. 2017 shape);
* **annotator agreement** (``q_kappa_agreement``) — Cohen's kappa (1960)
  between two labelers;
* **template detection** (``q_dedup_prefix``) — documents sharing a
  leading token prefix (boilerplate/template families, the CCNet-style
  head-dedup signal);
* **per-class embedding outliers** (``q_embedding_outliers``) — the
  farthest-from-centroid audit shortlist (mislabeled-example mining);
* **retrieval-quality eval** (``q_ndcg_eval``) — nDCG@10 of the BM25
  ranking (Järvelin & Kekäläinen 2002).

Round-7 additions:

* **MMR-diversified top-k** (``q_rerank_mmr``) — Maximal Marginal
  Relevance over the rerank shortlist (Carbonell & Goldstein 1998), the
  diversity twin of q_rerank_cross; greedy selection as a single-row
  higher-order fold, fully engine-side;
* **centroid drift** (``q_centroid_drift``) — per-label L2 shift between
  corpus snapshots; the exact batch oracle of the streaming monitor in
  streaming/centroid_drift.py.

Determinism discipline (same as the rest of the engine): compared doubles
are either single IEEE operations on exact integers (bit-stable across
engines) or are rounded at 9 dp after an identically-spelled expression
tree; decimal accumulation for order-independent sums; ranks break ties
on ids.  All outputs are scalar columns only (driver canonicalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bifrost_spark.operators.dedup import contamination_hits, contamination_hits_sql
from bifrost_spark.operators.vectors import local_frame
from bifrost_spark.queries._util import spread
from bifrost_spark.queries.llm_text import (
    _BM25_SQL,
    _QLM_SQL,
    _SW_SQL,
    BENCH_DOC_MAX,
    BM25_TERMS,
    RRF_K,
    STOPWORDS,
    q_rrf_fusion,
)
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

# ---------------------------------------------------------------------------
# q_rerank_cross — second-stage rerank of the RRF shortlist
# ---------------------------------------------------------------------------

# Adjacent query-term bigrams get a phrase bonus — the minimal "interaction
# feature" a cross-encoder sees that neither bag-of-words retriever does.
_PHRASES = [f"{a} {b}" for a, b in zip(BM25_TERMS, BM25_TERMS[1:])]


@query(
    "q_rerank_cross",
    oracle=f"""
        WITH bm AS ({_BM25_SQL}),
        qm AS ({_QLM_SQL}),
        fused AS (
          SELECT COALESCE(bm.doc_id, qm.doc_id) AS doc_id,
                 COALESCE(1.0 / ({RRF_K} + bm.rnk), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + qm.rnk), 0.0) AS rrf
          FROM bm FULL OUTER JOIN qm ON bm.doc_id = qm.doc_id
        ),
        topl AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                   AS fused_rnk
          FROM fused
        ),
        feat AS (
          SELECT f.doc_id, f.fused_rnk,
                 len(list_filter(d.ws, x -> x = 'vector')) AS tfv,
                 len(list_filter(d.ws, x -> x = 'hash')) AS tfh,
                 len(list_filter(d.ws, x -> x = 'scan')) AS tfs,
                 d.lt
          FROM topl f JOIN (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws,
                   lower(text) AS lt
            FROM documents
          ) d ON d.doc_id = f.doc_id
        ),
        scored AS (
          SELECT doc_id, fused_rnk,
                 CAST((tfv > 0)::INT + (tfh > 0)::INT + (tfs > 0)::INT
                      AS BIGINT) AS coverage,
                 ((tfv > 0)::INT + (tfh > 0)::INT + (tfs > 0)::INT) * 10.0
                   + (CASE WHEN contains(lt, '{_PHRASES[0]}') THEN 2.0 ELSE 0.0 END)
                   + (CASE WHEN contains(lt, '{_PHRASES[1]}') THEN 2.0 ELSE 0.0 END)
                   + CAST(tfv AS DOUBLE) / (tfv + 1)
                   + CAST(tfh AS DOUBLE) / (tfh + 1)
                   + CAST(tfs AS DOUBLE) / (tfs + 1) AS score
          FROM feat
        )
        SELECT doc_id, fused_rnk, coverage,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rerank_rnk
        FROM scored
    """,
)
def q_rerank_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style second-stage rerank over the RRF shortlist: the
    fused top list (q_rrf_fusion) is re-scored with a richer query-document
    interaction — term coverage, adjacent-phrase hits, and saturated term
    frequency — and re-ranked.  In production the scorer is a model
    inference (an Arrow-batched pandas UDF over (query, doc) pairs); here
    it is a deterministic lexical interaction so the DuckDB oracle can
    check the join/rescore/rank plumbing exactly.  The economics are the
    operator's point (Nogueira & Cho 2019): the expensive scorer touches
    ONLY the |shortlist| candidates, never the corpus.

    Scale shape: the shortlist (≤ ~top-20 per retriever) broadcasts into
    the documents scan (semi-join pruning fetches just those texts); the
    final rank is a window over the shortlist — a one-task stage bounded
    by the top-k contract, independent of corpus size.

    Determinism: score is a fixed left-associated sum of exact comparisons
    and single int/int divisions — bit-identical across engines; the rank
    (tie-break doc_id) is what's compared, the raw score stays internal."""
    fused = q_rrf_fusion(spark, sf_dir).select("doc_id", "fused_rnk")
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " ", -1), lambda x: x != "")
    docs = d.select(
        "doc_id",
        ws.alias("ws"),
        F.lower("text").alias("lt"),
    )
    feat = docs.join(F.broadcast(fused), "doc_id").select(
        "doc_id",
        "fused_rnk",
        F.size(F.filter("ws", lambda x: x == F.lit("vector"))).alias("tfv"),
        F.size(F.filter("ws", lambda x: x == F.lit("hash"))).alias("tfh"),
        F.size(F.filter("ws", lambda x: x == F.lit("scan"))).alias("tfs"),
        "lt",
    )
    cov = (
        (F.col("tfv") > 0).cast("int")
        + (F.col("tfh") > 0).cast("int")
        + (F.col("tfs") > 0).cast("int")
    )
    score = (
        cov * 10.0
        + F.when(F.col("lt").contains(_PHRASES[0]), 2.0).otherwise(0.0)
        + F.when(F.col("lt").contains(_PHRASES[1]), 2.0).otherwise(0.0)
        + F.col("tfv").cast("double") / (F.col("tfv") + 1)
        + F.col("tfh").cast("double") / (F.col("tfh") + 1)
        + F.col("tfs").cast("double") / (F.col("tfs") + 1)
    )
    scored = feat.select(
        "doc_id",
        "fused_rnk",
        cov.cast("bigint").alias("coverage"),
        score.alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.select(
        "doc_id",
        "fused_rnk",
        "coverage",
        F.row_number().over(w).cast("bigint").alias("rerank_rnk"),
    )


# ---------------------------------------------------------------------------
# q_contamination_report — per-source eval-contamination rollup
# ---------------------------------------------------------------------------


@query(
    "q_contamination_report",
    oracle=f"""
        WITH {contamination_hits_sql(BENCH_DOC_MAX)}
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
               CAST(COUNT(h.doc_id) AS DOUBLE) / COUNT(*) AS contamination_rate
        FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        WHERE d.doc_id >= {BENCH_DOC_MAX}
        GROUP BY d.source
    """,
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source eval-set contamination report: for every training source,
    the count and share of documents sharing ANY 10-char gram with the
    held-out benchmark (doc_id < {B} stands in) — the audit table a data
    vendor publishes per slice (Brown et al. 2020 appendix C), built from
    the same directional gram check as q_decontaminate
    (llm_text.py:q_decontaminate cites the mechanics).

    Scale shape: benchmark grams are a small distinct set → broadcast semi
    join against the training gram stream; the per-source rollup shuffles
    one (source, flag) pair per doc — counts, never text.  NULL source is
    a reported group (metadata-lost docs are exactly the slice an audit
    must not silently drop).

    Determinism: counts are exact; the rate is one int/int IEEE division —
    bit-stable across engines."""
    d = load_table(spark, sf_dir, "documents")
    hits = contamination_hits(d, BENCH_DOC_MAX)
    return (
        d.filter(F.col("doc_id") >= BENCH_DOC_MAX)
        .select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("hit").cast("bigint").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                "contamination_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_embedding_centroid — per-class mean embedding (class prototypes)
# ---------------------------------------------------------------------------

# Order-independent element sums: embedding components are float32 (exact in
# double); 16 integral digits of headroom hold ~1e15 unit-scale addends.
# The per-value double→decimal cast differs across engines only below
# 1e-16 relative (see _util.py's contract) — the 9-dp output rounding sits
# far above the accumulated drift at any realistic corpus size.
_DEC_EMB = "DECIMAL(32,16)"


@query(
    "q_embedding_centroid",
    oracle=f"""
        SELECT label,
               CAST(pos AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               round(CAST(SUM(CAST(CAST(embedding[pos + 1] AS DOUBLE)
                                   AS {_DEC_EMB})) AS DOUBLE) / COUNT(*), 9)
                 AS centroid_val
        FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
        GROUP BY label, pos
    """,
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the class-prototype table behind
    nearest-centroid classification, SemDeDup-style cluster summaries, and
    embedding-drift monitoring (compare today's centroids to yesterday's).

    Scale shape: posexplode emits (label, pos, x) scalars inside the scan
    stage; ONE hash aggregate with map-side partial combine reduces them —
    each task ships at most |labels|·d partial rows no matter how many
    vectors it read (the same bounded-partials argument as the PCA moments
    pass).  Output is |labels|·d rows — flat scalars, no arrays.

    Determinism: element sums accumulate in DECIMAL(32,16) (order-independent);
    the mean divides two exact values and is rounded at 9 dp, far above
    the cross-engine decimal-cast drift documented on _DEC_EMB.  NULL
    embeddings contribute no rows (posexplode of NULL), matching the
    oracle's UNNEST(range(len(NULL)))."""
    return label_centroids(load_table(spark, sf_dir, "embeddings"))


def label_centroids(e: DataFrame) -> DataFrame:
    """(label, pos, n_vecs, centroid_val) per-label mean embedding —
    shared by q_embedding_centroid, q_centroid_drift, and the streaming
    centroid-drift monitor (streaming/centroid_drift.py), so the monitor's
    exact batch oracle is the same aggregation by construction."""
    flat = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    return flat.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(
            F.sum(F.col("x").cast(_DEC_EMB)).cast("double") / F.count(F.lit(1)), 9
        ).alias("centroid_val"),
    ).select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        "n_vecs",
        "centroid_val",
    )


# ---------------------------------------------------------------------------
# q_ctr_wilson — Wilson-score lower-bound ranking
# ---------------------------------------------------------------------------

_WILSON_VARIANTS = 16  # deterministic experiment-arm assignment: user_id % 16


@query(
    "q_ctr_wilson",
    oracle=f"""
        WITH v AS (
          SELECT user_id % {_WILSON_VARIANTS} AS variant,
                 CAST(COUNT(*) AS BIGINT) AS n_trials,
                 CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                      AS BIGINT) AS n_successes
          FROM events
          WHERE user_id IS NOT NULL
          GROUP BY user_id % {_WILSON_VARIANTS}
        ),
        s AS (
          SELECT variant, n_trials, n_successes,
                 (CAST(n_successes AS DOUBLE) / n_trials
                    + (1.96 * 1.96) / (2.0 * n_trials)
                    - 1.96 * sqrt((CAST(n_successes AS DOUBLE) / n_trials
                                     * (1.0 - CAST(n_successes AS DOUBLE) / n_trials)
                                   + (1.96 * 1.96) / (4.0 * n_trials))
                                  / n_trials))
                 / (1.0 + (1.96 * 1.96) / n_trials) AS lb
          FROM v
        )
        SELECT variant, n_trials, n_successes,
               round(lb, 9) + 0.0 AS wilson_lb,
               CAST(ROW_NUMBER() OVER (ORDER BY round(lb, 9) + 0.0 DESC,
                                       variant) AS BIGINT) AS rnk
        FROM s
    """,
)
def q_ctr_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking (Wilson 1927) of experiment arms by
    conversion rate: the standard correction that stops a 1/1 arm from
    outranking a 900/1000 arm — how any ranking over low-trial binomial
    rates (arms, sellers, documents-by-click) should be ordered.  Arm =
    ``user_id % 16`` (deterministic assignment stand-in);
    success = a purchase event.  Events without a user can't be assigned
    an arm and are excluded on both engines (the q_ks_drift NULL-ordering
    discipline).

    Scale shape: one hash aggregate (map-side combinable) to 16
    arm rows; the scoring and final rank run over that bounded arm table —
    the single-partition stage is bounded by the modulus, never the event
    volume.

    Determinism: the bound derives from two exact integers through an
    identically-spelled expression tree, but DuckDB constant-folds parts
    of it at extended precision (measured: a zero-success arm's
    algebraically-zero bound comes back ±5e-17 there vs exactly 0.0 on
    the JVM — fuzzer finding), so raw doubles are NOT comparable.  Both
    the displayed bound and the rank ordering therefore use the 9-dp
    rounded value with +0.0 canonicalizing IEEE negative zero (the
    q_entropy discipline); sub-1e-9 bound differences tie-break on the
    arm id, identically on both engines."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    v = e.groupBy(
        (F.col("user_id") % _WILSON_VARIANTS).alias("variant")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trials"),
        F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
        .cast("bigint")
        .alias("n_successes"),
    )
    p = F.col("n_successes").cast("double") / F.col("n_trials")
    z2 = F.lit(1.96) * F.lit(1.96)
    lb = (
        p
        + z2 / (F.lit(2.0) * F.col("n_trials"))
        - F.lit(1.96)
        * F.sqrt(
            (p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * F.col("n_trials")))
            / F.col("n_trials")
        )
    ) / (F.lit(1.0) + z2 / F.col("n_trials"))
    s = v.select(
        "variant",
        "n_trials",
        "n_successes",
        (F.round(lb, 9) + F.lit(0.0)).alias("wilson_lb"),
    )
    w = Window.orderBy(F.desc("wilson_lb"), F.asc("variant"))
    return s.select(
        "variant",
        "n_trials",
        "n_successes",
        "wilson_lb",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# q_hapax_report / q_freq_spectrum — lexical-richness + Good–Turing input
# ---------------------------------------------------------------------------


@query(
    "q_hapax_report",
    oracle="""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS t
          FROM documents
        ),
        tf AS (
          SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
               CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE) / SUM(c)
                 AS hapax_frac
        FROM tf GROUP BY doc_id
    """,
)
def q_hapax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hapax legomena report: how many of a document's tokens
    occur exactly once within it, and the hapax fraction — the classic
    lexical-richness signal (high: diverse prose; low: boilerplate/
    keyword-stuffing), a standard quality feature next to the Gopher
    ratios.  Documents with no tokens (empty or NULL text) have no lexical
    profile and emit no row on either engine.

    Scale shape: explode → ONE (doc_id, token) hash aggregate → one
    per-doc rollup keyed by doc_id; both shuffles carry counts with
    map-side partial combine, text never moves past the scan stage.

    Determinism: integer counts; hapax_frac is one int/int IEEE division."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    tf = (
        d.select("doc_id", F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("c") == 1, F.lit(1))).cast("bigint").alias("n_hapax"),
        (
            F.count(F.when(F.col("c") == 1, F.lit(1))).cast("double")
            / F.sum("c")
        ).alias("hapax_frac"),
    )


@query(
    "q_freq_spectrum",
    oracle="""
        WITH tok AS (
          SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS t
          FROM documents
        ),
        tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY t)
        SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types
        FROM tf GROUP BY freq
    """,
)
def q_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-of-frequencies spectrum: for each occurrence count
    r, the number of token types occurring exactly r times — the N_r table
    Good–Turing smoothing consumes (Gale & Sampson 1995), the Zipf
    diagnostic for tokenizer/vocab work, and the quickest corpus-health
    check there is (a duplicated crawl shows up as mass at improbable r).

    Scale shape: explode → token-count hash aggregate (|vocab| rows out of
    the shuffle, map-side combined) → a second tiny aggregate keyed by the
    count itself (|distinct frequencies| ≈ hundreds even at 100 TB, and
    the second shuffle's input is only |vocab| rows).

    Determinism: all integers."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    tf = (
        d.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return tf.groupBy("freq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )


# ---------------------------------------------------------------------------
# q_calibration_bins — reliability-diagram binning
# ---------------------------------------------------------------------------


@query(
    "q_calibration_bins",
    oracle="""
        WITH s AS (
          SELECT CAST(len(list_distinct(list_filter(
                        string_split(lower(text), ' '), t -> t <> '')))
                      AS DOUBLE)
                   / len(list_filter(string_split(lower(text), ' '),
                                     t -> t <> '')) AS score,
                 CASE WHEN lang IS NOT DISTINCT FROM 'en' THEN 1 ELSE 0 END
                   AS y
          FROM documents
          WHERE text IS NOT NULL
            AND len(list_filter(string_split(lower(text), ' '),
                                t -> t <> '')) > 0
        )
        SELECT CAST(LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS BIGINT)
                 AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos
        FROM s GROUP BY 1
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram binning (the calibration table of Guo et al.
    2017): bucket a [0,1] prediction score into 10 equal-width bins and
    count positives per bin — miscalibration is visible as n_pos/n far
    from the bin center.  Score and label are fixture stand-ins (score:
    type-token ratio; label: lang == 'en'); a real model score + gold
    label drop into the same two expressions.  Zero-token docs carry no
    score and are excluded on both engines.

    Scale shape: scan-local score/label expressions → ONE hash aggregate
    to ≤10 bin rows (map-side combined) — a reliability diagram over
    10^11 predictions is one aggregation pass.

    Determinism: score is one int/int IEEE division, bin derivation is
    floor on bit-identical doubles (float→int truncation spelled as
    explicit FLOOR on both engines), outputs are integers."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    s = d.select(
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("score"),
        F.col("lang").eqNullSafe("en").cast("int").alias("y"),
    ).filter(F.size(toks) > 0)
    return s.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9).cast("bigint")).alias(
            "bin"
        ),
        "y",
    ).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# q_kappa_agreement — Cohen's kappa between two labelers
# ---------------------------------------------------------------------------


@query(
    "q_kappa_agreement",
    oracle=f"""
        WITH l AS (
          SELECT CASE WHEN lang IS NOT DISTINCT FROM 'en' THEN 1 ELSE 0 END
                   AS a,
                 CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                           t -> t IN {_SW_SQL})) * 20
                           >= len(string_split(text, ' '))
                      THEN 1 ELSE 0 END AS b
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COALESCE(SUM(a), 0) AS BIGINT) AS a1,
                 CAST(COALESCE(SUM(b), 0) AS BIGINT) AS b1,
                 CAST(COALESCE(SUM(a * b), 0) AS BIGINT) AS n11,
                 CAST(COALESCE(SUM((1 - a) * (1 - b)), 0) AS BIGINT) AS n00
          FROM l
        )
        SELECT n,
               n11 + n00 AS n_agree,
               round(CAST(n11 + n00 AS DOUBLE) / n, 9) AS po,
               round((CAST(a1 AS DOUBLE) * b1
                      + CAST(n - a1 AS DOUBLE) * (n - b1))
                     / (CAST(n AS DOUBLE) * n), 9) AS pe,
               CASE WHEN (CAST(a1 AS DOUBLE) * b1
                          + CAST(n - a1 AS DOUBLE) * (n - b1))
                         = CAST(n AS DOUBLE) * n
                    THEN NULL
                    ELSE round((CAST(n11 + n00 AS DOUBLE) / n
                                - (CAST(a1 AS DOUBLE) * b1
                                   + CAST(n - a1 AS DOUBLE) * (n - b1))
                                  / (CAST(n AS DOUBLE) * n))
                               / (1.0 - (CAST(a1 AS DOUBLE) * b1
                                         + CAST(n - a1 AS DOUBLE) * (n - b1))
                                        / (CAST(n AS DOUBLE) * n)), 9)
               END AS kappa
        FROM c WHERE n > 0
    """,
)
def q_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960) between two document labelers — the standard
    chance-corrected agreement statistic run over every double-annotated
    slice of a labeling pipeline.  Labeler A: the lang metadata says 'en';
    labeler B: the stopword-ratio heuristic (q_lang_id's classifier).
    Docs with NULL text can't be labeled and are excluded on both engines.

    Scale shape: two scan-local 0/1 expressions → ONE scalar aggregate
    (map-side combined; a single summary row regardless of corpus size).

    Determinism: po/pe/kappa derive from exact integer counts via an
    identically-spelled IEEE expression tree; pe = 1 (degenerate chance
    agreement, e.g. both labelers constant) makes kappa undefined → NULL
    on both engines, the guard an adversarial constant-label corpus needs.
    Products run in double (a1·b1 overflows bigint at ~10^10 docs)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks_lower = F.split(F.lower("text"), " ", -1)
    sw_hits = F.size(F.filter(toks_lower, lambda t: t.isin(*STOPWORDS)))
    n_toks = F.size(F.split("text", " ", -1))
    l = d.select(
        F.col("lang").eqNullSafe("en").cast("int").alias("a"),
        (sw_hits * 20 >= n_toks).cast("int").alias("b"),
    )
    c = l.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("a"), F.lit(0)).cast("bigint").alias("a1"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("bigint").alias("b1"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0))
        .cast("bigint")
        .alias("n11"),
        F.coalesce(F.sum((1 - F.col("a")) * (1 - F.col("b"))), F.lit(0))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n")
    nd = n.cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe_num = F.col("a1").cast("double") * F.col("b1") + (
        n - F.col("a1")
    ).cast("double") * (n - F.col("b1"))
    pe = pe_num / (nd * n)
    return c.select(
        "n",
        (F.col("n11") + F.col("n00")).alias("n_agree"),
        F.round(po, 9).alias("po"),
        F.round(pe, 9).alias("pe"),
        F.when(pe_num == nd * n, F.lit(None).cast("double"))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 9))
        .alias("kappa"),
    ).filter(n > 0)


# ---------------------------------------------------------------------------
# q_embedding_outliers — farthest-from-centroid mining per class
# ---------------------------------------------------------------------------

_OUTLIER_TOPK = 5
# Literal fold-back gate in COLLECTED ROWS (|labels|·d): ≈10³ labels at
# d=64.  Above it the centroid table never leaves the engine (VERDICT r6).
_OUTLIER_FOLDBACK_GATE_ROWS = 65536


@query(
    "q_embedding_outliers",
    oracle=f"""
        WITH flat AS (
          SELECT label, vec_id, pos,
                 CAST(embedding[pos + 1] AS DOUBLE) AS x
          FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
          WHERE label IS NOT NULL
        ),
        cent AS (
          SELECT label, pos,
                 round(CAST(SUM(CAST(x AS {_DEC_EMB})) AS DOUBLE)
                       / COUNT(*), 9) AS c
          FROM flat GROUP BY label, pos
        ),
        d2 AS (
          SELECT f.label, f.vec_id,
                 SUM(CAST(round((f.x - cent.c) * (f.x - cent.c), 12)
                          AS DECIMAL(28,12))) AS dist2
          FROM flat f
          JOIN cent ON cent.label = f.label AND cent.pos = f.pos
          GROUP BY f.label, f.vec_id
        ),
        ranked AS (
          SELECT label, vec_id, dist2,
                 CAST(ROW_NUMBER() OVER (PARTITION BY label
                        ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rnk
          FROM d2
        )
        SELECT label, vec_id,
               round(sqrt(CAST(dist2 AS DOUBLE)), 9) AS dist,
               rnk
        FROM ranked WHERE rnk <= {_OUTLIER_TOPK}
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outliers: the top-{k} vectors farthest (L2)
    from their label's centroid — the standard mislabeled-example /
    junk-embedding mining pass run after every labeling or embedding job
    (the intuition behind confident-learning pruning: the examples most
    distant from their class prototype are the ones to audit first).
    Unlabeled vectors have no class prototype and are excluded.

    Scale shape: the centroid table (|labels|·d rows — the bounded
    aggregate proven by q_embedding_centroid) is collected ONCE and
    folded back as per-label literal arrays (the q_dsir_weights
    fold-back device, one parsed CASE over all labels), so the distance
    is a SCAN-LOCAL zip_with/fold — no join, no explode, nothing but
    (label, vec_id, dist²) skinny rows ever shuffle, and the per-label
    top-k window partitions by label.  Two corpus passes total
    (centroid aggregate + scoring scan), both full-scan-speed.

    Determinism: centroids are 9-dp-rounded (engine-identical per
    q_embedding_centroid); each squared difference is rounded at 12 dp
    and summed in DECIMAL (order-free), and the rank orders that EXACT
    decimal (never its double image, whose rounding could merge distinct
    decimals into ties) with vec_id as tie-break.  The centroid array
    rides in zip_with ARGUMENT position, so the literal CASE is
    evaluated once per row, not per element (the HOF-lambda recompute
    pitfall).

    Cardinality gate (VERDICT r6): the literal CASE embeds one array
    per label in the PLAN, which blows up plan size/compile time when
    labels are high-cardinality (user-ids, domains) rather than
    model-class-sized.  The collect is therefore LIMIT-bounded at
    {gate} rows (= |labels|·d; ≈10³ labels at d=64): within the gate,
    the collected rows feed the literal path unchanged (same single
    scoring scan); above it nothing more is collected and the centroid
    table stays engine-side, assembled into per-label arrays and
    equi-joined back on label (Catalyst broadcasts it while it fits,
    shuffle-joins beyond that).  Same rounded values either way, so the
    output is identical — pinned by the gate test."""
    from bifrost_spark.operators.vectors import sql_literal

    # size > 0 also drops NULL (size(NULL) is NULL) AND zero-length
    # vectors: the oracle's UNNEST(range(0)) emits no rows for an empty
    # array, so keeping it here would pad zip_with against the centroid
    # into a phantom dist=0 outlier row (review finding)
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull() & (F.size("embedding") > 0)
    )
    dbl = e.select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent_agg = (
        dbl.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast(_DEC_EMB)).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("c")
        )
    )
    # bounded probe-and-collect: never pulls more than gate+1 skinny rows,
    # and within the gate the SAME result builds the literals (no re-scan)
    cent_rows = cent_agg.limit(_OUTLIER_FOLDBACK_GATE_ROWS + 1).collect()
    if not cent_rows:
        return local_frame(
            spark, [], "label int, vec_id bigint, dist double, rnk bigint"
        )
    if len(cent_rows) > _OUTLIER_FOLDBACK_GATE_ROWS:
        # high-cardinality labels: engine-side fold-back.  array_sort on
        # struct(pos, c) orders by pos (struct comparison is field-order),
        # so the assembled array is positional.
        carr = cent_agg.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("_cent")
        )
        base = dbl.join(carr, "label")
        c_arr = F.col("_cent")
    else:
        base = dbl
        by_label: dict = {}
        for r in cent_rows:
            by_label.setdefault(r["label"], {})[r["pos"]] = r["c"]
        whens = " ".join(
            f"WHEN label = {sql_literal(lbl)} THEN"
            f" {sql_literal([posmap[p] for p in range(max(posmap) + 1)])}"
            for lbl, posmap in sorted(by_label.items())
        )
        c_arr = F.expr(f"CASE {whens} ELSE CAST(NULL AS ARRAY<DOUBLE>) END")

    dec0 = F.lit(0).cast("decimal(28,12)")
    sq = F.zip_with(
        F.col("emb"),
        c_arr,
        lambda a, b: F.round((a - b) * (a - b), 12).cast("decimal(28,12)"),
    )
    # the merge must re-cast: decimal + decimal widens to (29,12), which
    # no longer matches the accumulator type and fails analysis
    d2 = F.aggregate(
        sq,
        dec0,
        lambda acc, v: (acc + F.coalesce(v, dec0)).cast("decimal(28,12)"),
    )
    scored = base.select("label", "vec_id", d2.alias("dist2"))
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), F.asc("vec_id"))
    return (
        scored.select(
            "label",
            "vec_id",
            "dist2",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= _OUTLIER_TOPK)
        .select(
            "label",
            "vec_id",
            F.round(F.sqrt(F.col("dist2").cast("double")), 9).alias("dist"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# q_ndcg_eval — retrieval-quality metric over the BM25 ranking
# ---------------------------------------------------------------------------

_NDCG_K = 10

# graded relevance = query-term coverage (0..3); gain = 2^rel − 1 spelled as
# a CASE (POWER returns double and float→int CASTs round differently across
# engines — the floor()/cast pitfall)
_GAIN_SQL = """
    CASE (len(list_filter(COALESCE(ws, []), x -> x = 'vector')) > 0)::INT
         + (len(list_filter(COALESCE(ws, []), x -> x = 'hash')) > 0)::INT
         + (len(list_filter(COALESCE(ws, []), x -> x = 'scan')) > 0)::INT
      WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END
"""


@query(
    "q_ndcg_eval",
    oracle=f"""
        WITH bm AS ({_BM25_SQL}),
        rel AS (
          SELECT doc_id, {_GAIN_SQL} AS gain
          FROM (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '')
                     AS ws
            FROM documents
          )
        ),
        sys_addends AS (
          SELECT round(CAST(r.gain AS DOUBLE) / log2(bm.rnk + 1), 12) AS a
          FROM bm JOIN rel r USING (doc_id) WHERE bm.rnk <= {_NDCG_K}
        ),
        dcg AS (
          SELECT COALESCE(SUM(CAST(a AS DECIMAL(28,12))),
                          CAST(0 AS DECIMAL(28,12))) AS v
          FROM sys_addends
        ),
        ideal AS (
          SELECT gain,
                 ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS pos
          FROM rel
        ),
        ideal_addends AS (
          SELECT round(CAST(gain AS DOUBLE) / log2(pos + 1), 12) AS a
          FROM ideal WHERE pos <= {_NDCG_K}
        ),
        idcg AS (
          SELECT COALESCE(SUM(CAST(a AS DECIMAL(28,12))),
                          CAST(0 AS DECIMAL(28,12))) AS v
          FROM ideal_addends
        )
        SELECT round(CAST(dcg.v AS DOUBLE), 9) AS dcg,
               round(CAST(idcg.v AS DOUBLE), 9) AS idcg,
               CASE WHEN idcg.v = 0 THEN NULL
                    ELSE round(CAST(dcg.v AS DOUBLE) / CAST(idcg.v AS DOUBLE),
                               9)
               END AS ndcg
        FROM dcg CROSS JOIN idcg
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{k} of the BM25 ranking against a graded relevance judgment —
    the retrieval-quality eval every search/RAG pipeline reports
    (Järvelin & Kekäläinen 2002).  Relevance = query-term coverage (0–3,
    a deterministic qrels stand-in; a human-judged qrels table drops into
    the same join), gain = 2^rel − 1, positions discounted by log2(i+1),
    normalized by the ideal ordering's DCG over the whole corpus.

    Scale shape: the system side touches only the ≤top-{k} ranked docs
    (broadcast join back for gains); the ideal side needs the corpus's
    top-{k} gains, which runs as TakeOrderedAndProject (per-partition
    heaps + driver merge, NEVER a global sort) before a {k}-row position
    window.  Both reductions end in one-row aggregates — bounded by
    construction.

    Determinism: gains are exact integers via a CASE (POWER + int cast
    rounds differently across engines); each log2-discounted addend is
    rounded at 12 dp (above any libm ulp divergence) and summed in
    DECIMAL (order-free); idcg = 0 (no relevant docs anywhere) makes
    nDCG undefined → NULL on both engines."""
    from bifrost_spark.queries.llm_text import q_bm25

    d = load_table(spark, sf_dir, "documents")
    ws = F.coalesce(
        F.filter(F.split(F.lower("text"), " ", -1), lambda x: x != ""),
        F.array().cast("array<string>"),
    )
    cov = (
        (F.size(F.filter(ws, lambda x: x == F.lit("vector"))) > 0).cast("int")
        + (F.size(F.filter(ws, lambda x: x == F.lit("hash"))) > 0).cast("int")
        + (F.size(F.filter(ws, lambda x: x == F.lit("scan"))) > 0).cast("int")
    )
    gain = (
        F.when(cov == 0, 0).when(cov == 1, 1).when(cov == 2, 3).otherwise(7)
    )
    rel = d.select("doc_id", gain.alias("gain"))

    dec = "decimal(28,12)"
    bm = q_bm25(spark, sf_dir).select("doc_id", "rnk").filter(
        F.col("rnk") <= _NDCG_K
    )
    sys_addend = F.round(
        F.col("gain").cast("double") / F.log2(F.col("rnk") + 1), 12
    ).cast(dec)
    dcg = (
        rel.join(F.broadcast(bm), "doc_id")
        .select(sys_addend.alias("a"))
        .agg(F.coalesce(F.sum("a"), F.lit(0).cast(dec)).alias("v"))
    )

    ideal = rel.orderBy(F.desc("gain"), F.asc("doc_id")).limit(_NDCG_K)
    wpos = Window.orderBy(F.desc("gain"), F.asc("doc_id"))
    ideal_addend = F.round(
        F.col("gain").cast("double") / F.log2(F.col("pos") + 1), 12
    ).cast(dec)
    idcg = (
        ideal.select("gain", F.row_number().over(wpos).alias("pos"))
        .select(ideal_addend.alias("a"))
        .agg(F.coalesce(F.sum("a"), F.lit(0).cast(dec)).alias("v"))
    )

    # both sides are ONE-ROW scalar aggregates; broadcasting the ideal side
    # plans the documented scalar-join BNLJ shape instead of a
    # CartesianProduct (banned plan-wide)
    return dcg.withColumnRenamed("v", "dv").crossJoin(
        F.broadcast(idcg.withColumnRenamed("v", "iv"))
    ).select(
        F.round(F.col("dv").cast("double"), 9).alias("dcg"),
        F.round(F.col("iv").cast("double"), 9).alias("idcg"),
        F.when(F.col("iv") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("dv").cast("double") / F.col("iv").cast("double"), 9))
        .alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

_BOOT_REPS = 32
# Cumulative Poisson(1) thresholds (exact double literals, identical in
# both spellings): u < cdf_k → weight k, tail truncated at 6 (mass beyond
# ~6e-4, and the truncation is IDENTICAL on both engines so parity holds).
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)


# Each md5 yields EIGHT independent 4-hex-digit uniforms (slots 0-7), so
# 32 replicates cost 4 md5 calls per row, not 32 — measured 13.7 → ~2 s at
# sf0.1 (the md5 + ascii-decode chain is interpreted-expression cost, the
# round-5 audit's class).  4 digits give u on a 2^-16 grid: the Poisson
# thresholds are quantized by ≤2^-17 — a ~1e-5 per-weight bias, identical
# on both engines (the comparison is exact either way).
def _sql_u4(expr: str, slot: int) -> str:
    """DuckDB: uniform in [0,1) from the 4 md5 hex digits at slot*4+1,
    built on the one shared decode idiom (_util.sql_md5_digit)."""
    from bifrost_spark.queries._util import sql_md5_digit

    val = "0"
    for i in range(slot * 4 + 1, slot * 4 + 5):
        val = f"(({val}) * 16 + {sql_md5_digit(expr, i)})"
    return f"(CAST({val} AS DOUBLE) / 65536.0)"


def _sql_pois(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 6 END)"


# one md5 string per (row, replicate-GROUP): group = r // 8, slot = r % 8
_BOOT_SQL_EXPR = "CAST(event_id AS VARCHAR) || ':' || CAST((r // 8) AS VARCHAR)"
_BOOT_U_CASE = (
    "(CASE (r % 8) "
    + " ".join(f"WHEN {s} THEN {_sql_u4(_BOOT_SQL_EXPR, s)}" for s in range(8))
    + " END)"
)


@query(
    "q_bootstrap_ci",
    oracle=f"""
        WITH base AS (
          SELECT event_type, event_id, value
          FROM events WHERE value IS NOT NULL
        ),
        rep AS (
          SELECT event_type, event_id, value, r
          FROM base, UNNEST(range({_BOOT_REPS})) AS t(r)
        ),
        unif AS (
          SELECT event_type, r, value, {_BOOT_U_CASE} AS u FROM rep
        ),
        wtd AS (
          SELECT event_type, r, value, {_sql_pois("u")} AS w
          FROM unif
        ),
        m AS (
          SELECT event_type, r,
                 CAST(SUM(CAST(w * value AS DECIMAL(28,6))) AS DOUBLE)
                   / SUM(w) AS mean_r
          FROM wtd GROUP BY event_type, r HAVING SUM(w) > 0
        ),
        ci AS (
          SELECT event_type, list_sort(list(mean_r)) AS arr,
                 CAST(COUNT(*) AS BIGINT) AS n_replicates
          FROM m GROUP BY event_type
        ),
        stats AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS mean
          FROM base GROUP BY event_type
        )
        SELECT s.event_type, s.n_rows, round(s.mean, 9) AS mean,
               ci.n_replicates,
               -- trim one extreme per side only when ≥4 replicates
               -- survive: LEAST(2, n)/GREATEST(n-1, 1) alone INVERTS the
               -- interval at n = 2 (lo = arr[2] = max, hi = arr[1] = min)
               round(arr[CAST(CASE WHEN ci.n_replicates >= 4 THEN 2
                                   ELSE 1 END AS INT)], 9) AS ci_lo,
               round(arr[CAST(CASE WHEN ci.n_replicates >= 4
                                   THEN ci.n_replicates - 1
                                   ELSE ci.n_replicates END AS INT)], 9)
                 AS ci_hi
        FROM stats s JOIN ci USING (event_type)
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap confidence interval for a grouped
    mean (Chamandy et al. 2012, the Google massive-streams estimator):
    every row gets a per-replicate Poisson(1) resampling weight derived
    from md5(event_id, replicate) — no RNG, no data movement, identical
    on every engine and under task retry — and the CI is read off the sorted
    replicate means (2nd-smallest / 2nd-largest of {R} ≈ a 94% interval).

    This is THE way to put uncertainty on a metric at 100 TB: resampling
    by weight (not by copying rows) keeps the whole bootstrap scan-local
    — the replicate explosion feeds a map-side-combined hash aggregate,
    so each task ships at most |groups|·{R} partial rows no matter how
    much data it read, and nothing is ever collected but |groups|·{R}
    means.

    Determinism: weights are exact integers from engine-portable md5
    digits compared against exact double literals of the Poisson(1) CDF;
    replicate means divide an exact decimal sum (value is 2-dp money —
    inside the dsum contract) by an integer weight sum; replicates whose
    weights all drew 0 have no mean and are excluded identically (HAVING
    SUM(w) > 0 — reachable for singleton groups, where ~37% of
    replicates zero out).  The sorted-means percentile picks by INTEGER
    index, so no float threshold compares."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        # NULL event_type groups never survive the oracle's stats⋈ci
        # USING(event_type) inner join (NULL joins nothing); the fused
        # single-aggregate shape has no join, so the drop is spelled as
        # an explicit filter — same rows out, and it pushes to the scan.
        & F.col("event_type").isNotNull()
    )
    # Spread the md5/decode-heavy projection across cores BEFORE computing
    # it: a small corpus file arrives as ONE input split, serializing the
    # whole CPU-bound weight build on a single task (q_jaccard_ppjoin's
    # measured hazard).  The shuffle moves only the 3 narrow columns; the
    # partition count is pinned (defaultParallelism, i.e. the cluster's
    # core budget) because AQE would coalesce a few-MB shuffle back to one
    # partition and re-serialize the compute (guide §2.5).
    base = spread(e.select("event_type", "event_id", "value"), "event_id")
    # all 32 UNIFORMS built as COLUMNS, 8 per md5 (4 md5 calls per row,
    # CSE'd by codegen); column r = group*8 + slot matches the oracle's
    # (r // 8, r % 8) decomposition.  The Poisson CASE applies in a SECOND
    # projection on the u COLUMNS — inlining it into the decode expression
    # duplicated the whole digit-decode six times per threshold and blew
    # codegen into interpreted mode (measured 105 s at sf0.1; CollapseProject
    # keeps the two projections apart because the 6-reference CASE input is
    # non-cheap).  No explode: the replicate dimension lives in 64 aggregate
    # accumulators of ONE event_type hash aggregate (the same exact decimal
    # sums, grouped differently — decimal addition is associative), which
    # removes the 32× row stream, the (event_type, r) shuffle, the second
    # collect_list shuffle, and the stats join outright (guide §2.3/§2.4;
    # measured 6.7 → ~2.5 s at sf0.1).
    #
    # r12: every repeated expression block is built as a SQL STRING and
    # parsed in one JVM call (selectExpr / F.expr) instead of thousands of
    # nested Column constructor calls — cProfile showed 2.4 s of the 3.4 s
    # build was py4j socket round-trips (13,845 commands).  Same
    # expressions, same analyzed plan; only the construction path changed
    # (double literals carry the explicit D suffix so nothing parses as
    # DECIMAL).
    ucols = []
    for g in range(_BOOT_REPS // 8):
        h = f"md5(concat(CAST(event_id AS STRING), ':{g}'))"
        for s in range(8):
            u = (
                f"(CAST(CAST(conv(substring({h}, {s * 4 + 1}, 4), 16, 10)"
                f" AS INT) AS DOUBLE) / 65536.0D)"
            )
            ucols.append(f"{u} AS u{g * 8 + s}")
    unif = base.selectExpr("event_type", "value", *ucols)

    def _pois_case(u: str) -> str:
        cases = " ".join(
            f"WHEN {u} < {c}D THEN {k}" for k, c in enumerate(_POIS_CDF)
        )
        return f"(CASE {cases} ELSE 6 END)"

    wtd = unif.selectExpr(
        "event_type",
        "value",
        *[f"{_pois_case(f'u{r}')} AS w{r}" for r in range(_BOOT_REPS)],
    )
    aggs = [
        F.expr("CAST(COUNT(1) AS BIGINT) AS n_rows"),
        F.expr("SUM(CAST(value AS DECIMAL(28,6))) AS sv"),
    ]
    for r in range(_BOOT_REPS):
        aggs.append(
            F.expr(f"SUM(CAST((w{r} * value) AS DECIMAL(28,6))) AS s{r}")
        )
        aggs.append(F.expr(f"SUM(w{r}) AS c{r}"))
    g = wtd.groupBy("event_type").agg(*aggs)
    # replicate means: identical arithmetic to the exploded spelling —
    # SUM(decimal)::double / SUM(int w), replicates with zero total weight
    # excluded (the HAVING SUM(w) > 0 twin); sorted ascending as before.
    reps = "array(" + ", ".join(
        f"named_struct('s', s{r}, 'c', c{r})" for r in range(_BOOT_REPS)
    ) + ")"
    surv = f"filter({reps}, x -> x.c > 0)"
    arr = f"sort_array(transform({surv}, x -> CAST(x.s AS DOUBLE) / x.c))"
    shaped = g.selectExpr(
        "event_type",
        "n_rows",
        "(CAST(sv AS DOUBLE) / n_rows) AS mean",
        f"CAST(size({surv}) AS BIGINT) AS n_replicates",
        f"{arr} AS arr",
        # groups whose 32 replicates ALL zeroed out dropped via the old
        # inner stats⋈ci join; the filter below keeps that behavior
    ).filter(F.col("n_replicates") > 0)
    # trim one extreme per side only with ≥4 surviving replicates — the
    # least/greatest clamps alone invert the interval at n = 2 (review
    # finding; reachable only when 30 of 32 deterministic weights zero
    # out, i.e. near-singleton groups at extreme scale)
    lo_idx = "(CASE WHEN n_replicates >= 4 THEN 2 ELSE 1 END)"
    hi_idx = (
        "(CASE WHEN n_replicates >= 4 THEN n_replicates - 1"
        " ELSE n_replicates END)"
    )
    return shaped.selectExpr(
        "event_type",
        "n_rows",
        "ROUND(mean, 9) AS mean",
        "n_replicates",
        f"ROUND(element_at(arr, CAST({lo_idx} AS INT)), 9) AS ci_lo",
        f"ROUND(element_at(arr, CAST({hi_idx} AS INT)), 9) AS ci_hi",
    )


# ---------------------------------------------------------------------------
# q_dedup_prefix — leading-token template detection
# ---------------------------------------------------------------------------

_PREFIX_TOKENS = 3


@query(
    "q_dedup_prefix",
    oracle=f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
          FROM documents
        ),
        p AS (
          SELECT doc_id, array_to_string(ws[1:{_PREFIX_TOKENS}], ' ') AS prefix
          FROM w WHERE len(ws) >= {_PREFIX_TOKENS}
        )
        SELECT prefix,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        FROM p GROUP BY prefix HAVING COUNT(*) >= 2
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-family detection by shared leading token prefix: groups of
    documents opening with the same first {k} tokens — the cheap signal for
    boilerplate families (auto-generated pages, form letters, scraped
    templates) that full near-dup machinery then inspects.  Complements
    q_dup_spans (any-position spans) with the head-anchored variant crawl
    cleaners actually run first, at a fraction of the cost.

    Scale shape: the prefix is a scan-local expression (slice of the first
    {k} tokens — no full-text shuffle; only the ≤{k}-token prefix string
    moves); one hash aggregate with map-side combine; HAVING ≥2 prunes the
    output to actual template families.

    Determinism: string grouping + integer counts, min-id keeper."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    p = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _PREFIX_TOKENS)
        .select(
            "doc_id",
            F.array_join(F.slice("ws", 1, _PREFIX_TOKENS), " ").alias("prefix"),
        )
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# q_rerank_mmr — MMR-diversified top-k over the rerank shortlist
# ---------------------------------------------------------------------------

# MMR parameters: shortlist depth fed to the greedy, picks returned, and
# the relevance/diversity trade-off λ (Carbonell & Goldstein 1998).
_MMR_SHORTLIST = 12
_MMR_K = 8
_MMR_LAMBDA = 0.7


def _mmr_oracle_sql() -> str:
    """Oracle for q_rerank_mmr: the rerank pipeline as a CTE, pairwise
    word-set Jaccard sims, then the greedy UNROLLED into _MMR_K stages —
    each stage is one deterministic ORDER BY rounded-MMR DESC, doc_id
    LIMIT 1 pick over the not-yet-selected candidates (ANSI, no
    recursion).  The MMR expression is spelled IDENTICALLY to the Spark
    side (same literals, same operation order, rounded at 9 dp with
    ``+ 0.0`` canonicalizing a negative zero) so the argmax decisions
    bit-match.

    Every CTE is AS MATERIALIZED: stage i references stages 1..i-1 twice
    (the NOT IN and the max-sim subquery), so default CTE INLINING
    re-expands the whole rerank pipeline 2^k times — enough parquet
    re-opens to exhaust the fd limit before it exhausts patience."""
    from bifrost_spark.registry import REGISTRY

    rr = REGISTRY["q_rerank_cross"].oracle
    lam, inv = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    stages = []
    for i in range(1, _MMR_K + 1):
        prev = [f"s{j}" for j in range(1, i)]
        if prev:
            sel_union = " UNION ALL ".join(f"SELECT doc_id FROM {p}" for p in prev)
            notin = f"WHERE c.doc_id NOT IN ({sel_union})"
            maxsim = (
                f"COALESCE((SELECT MAX(sim) FROM sims "
                f"WHERE id_a = c.doc_id AND id_b IN ({sel_union})), 0.0)"
            )
        else:
            notin = ""
            maxsim = "0.0"
        stages.append(
            f"s{i} AS MATERIALIZED (SELECT c.doc_id, "
            f"round({lam} * (1.0 / c.rnk) - {inv} * {maxsim}, 9) + 0.0 AS mmr "
            f"FROM short c {notin} ORDER BY mmr DESC, c.doc_id LIMIT 1)"
        )
    final = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_rnk, doc_id, mmr AS mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    stage_sql = ",\n        ".join(stages)
    return f"""
        WITH rr AS MATERIALIZED ({rr}),
        short AS MATERIALIZED (
          SELECT doc_id, rerank_rnk AS rnk FROM rr
          WHERE rerank_rnk <= {_MMR_SHORTLIST}
        ),
        words AS MATERIALIZED (
          SELECT doc_id, unnest(list_distinct(list_filter(
                   string_split(lower(text), ' '), t -> t <> ''))) AS w
          FROM documents WHERE doc_id IN (SELECT doc_id FROM short)
        ),
        wc AS MATERIALIZED (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY doc_id
        ),
        common AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM words a JOIN words b ON a.w = b.w AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        ),
        sims AS MATERIALIZED (
          SELECT id_a, id_b,
                 CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS sim
          FROM common
          JOIN wc ca ON ca.doc_id = id_a
          JOIN wc cb ON cb.doc_id = id_b
        ),
        {stage_sql}
        {final}
    """


@query("q_rerank_mmr", oracle=_mmr_oracle_sql())
def q_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k over the rerank shortlist — the diversity
    twin of q_rerank_cross (VERDICT r6 item 5a).  Maximal Marginal
    Relevance (Carbonell & Goldstein 1998) greedily picks the candidate
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked, so
    the returned k cover distinct content instead of k near-copies of the
    best hit — the standard last stage of a retrieval pipeline feeding a
    context window (dedup-at-selection-time).

    Scale shape: everything quadratic is bounded by the TOP-K CONTRACT,
    never the corpus — relevance comes from the already-bounded rerank
    shortlist (≤12 docs, broadcast-semi-joined to fetch
    just their texts), pairwise word-set Jaccard is a self-join over
    those ≤12 docs' distinct words, and the greedy runs as
    ONE single-row higher-order F.aggregate fold over k steps — fully
    engine-side, no driver loop, no per-step job.  The one
    BroadcastNestedLoopJoin is the 1-row × 1-row scalar assembly of the
    candidate and similarity maps (the q_lm_score device).

    Determinism: relevance is 1/rank (exact int division), Jaccard is
    int/int, and the MMR score is the identical expression tree in both
    engines rounded at 9 dp (+0.0 canonicalizes negative zero) before
    the argmax, with doc_id breaking ties — the fold scans candidates in
    ascending doc_id so array_position's first-match IS the tie-break."""
    short = (
        q_rerank_cross(spark, sf_dir)
        .filter(F.col("rerank_rnk") <= _MMR_SHORTLIST)
        .select("doc_id", F.col("rerank_rnk").alias("rnk"))
        # feeds the id broadcast, the word join, and the candidate fold —
        # ≤ _MMR_SHORTLIST rows, one materialization
        .localCheckpoint(eager=True)
    )
    d = load_table(spark, sf_dir, "documents")
    ws = F.array_distinct(
        F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    )
    dw = (
        d.join(F.broadcast(short.select("doc_id")), "doc_id")
        .select("doc_id", F.explode(ws).alias("w"))
        # feeds both self-join sides and the per-doc counts
        .localCheckpoint(eager=True)
    )
    wc = dw.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wc = wc.localCheckpoint(eager=True)  # read twice (ca, cb)
    a = dw.select(F.col("doc_id").alias("id_a"), "w")
    b = dw.select(F.col("doc_id").alias("id_b"), "w")
    common = (
        a.join(b, "w")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sims = (
        common.join(wc.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(wc.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("sim"),
        )
    )
    sim_row = sims.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.concat_ws(
                        "_", F.col("id_a").cast("string"), F.col("id_b").cast("string")
                    ).alias("k"),
                    F.col("sim").alias("v"),
                )
            )
        ).alias("sim_map")
    )
    cand_row = short.agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids"),
        F.map_from_entries(F.collect_list(F.struct("doc_id", "rnk"))).alias("rnk_map"),
    )
    one = cand_row.join(F.broadcast(sim_row))

    lam, inv = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA

    def _mmr(dd, sel):
        maxsim = F.array_max(
            F.transform(
                sel,
                lambda s: F.element_at(
                    F.col("sim_map"),
                    F.concat_ws("_", dd.cast("string"), s.cast("string")),
                ),
            )
        )
        return (
            F.round(
                F.lit(lam) * (F.lit(1.0) / F.element_at(F.col("rnk_map"), dd))
                - F.lit(inv) * F.coalesce(maxsim, F.lit(0.0)),
                9,
            )
            + F.lit(0.0)
        )

    def _step(acc, _i):
        mmrs = F.transform(acc["rem"], lambda dd: _mmr(dd, acc["sel"]))
        mx = F.array_max(mmrs)
        chosen = F.element_at(acc["rem"], F.array_position(mmrs, mx).cast("int"))
        nxt = F.struct(
            F.array_append(acc["sel"], chosen).alias("sel"),
            F.array_remove(acc["rem"], chosen).alias("rem"),
            F.array_append(acc["scores"], mx).alias("scores"),
        )
        return F.when(F.size(acc["rem"]) > 0, nxt).otherwise(acc)

    init = F.struct(
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("sel"),
        F.col("ids").alias("rem"),
        F.expr("CAST(array() AS ARRAY<DOUBLE>)").alias("scores"),
    )
    fold = F.aggregate(F.sequence(F.lit(1), F.lit(_MMR_K)), init, _step)
    r = one.select(fold.alias("r"))
    picks = F.transform(
        F.col("r.sel"),
        lambda el, i: F.struct(
            (i + 1).cast("bigint").alias("sel_rnk"),
            el.alias("doc_id"),
            F.element_at(F.col("r.scores"), (i + 1).cast("int")).alias("mmr_score"),
        ),
    )
    return r.select(F.explode(picks).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# q_centroid_drift — per-label centroid shift between corpus snapshots
# ---------------------------------------------------------------------------


@query(
    "q_centroid_drift",
    oracle=f"""
        WITH ref AS (
          SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
                 round(CAST(SUM(CAST(CAST(embedding[pos + 1] AS DOUBLE)
                                     AS {_DEC_EMB})) AS DOUBLE) / COUNT(*), 9)
                   AS c
          FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
          WHERE label IS NOT NULL AND vec_id % 4 <> 0
          GROUP BY label, pos
        ),
        cur AS (
          SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
                 round(CAST(SUM(CAST(CAST(embedding[pos + 1] AS DOUBLE)
                                     AS {_DEC_EMB})) AS DOUBLE) / COUNT(*), 9)
                   AS c
          FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
          WHERE label IS NOT NULL AND vec_id % 4 = 0
          GROUP BY label, pos
        ),
        d2 AS (
          SELECT r.label,
                 MAX(r.n) AS n_ref, MAX(cu.n) AS n_cur,
                 SUM(CAST(round((cu.c - r.c) * (cu.c - r.c), 12)
                          AS DECIMAL(28,12))) AS drift2
          FROM ref r JOIN cur cu ON cu.label = r.label AND cu.pos = r.pos
          GROUP BY r.label
        )
        SELECT label, n_ref, n_cur,
               round(sqrt(CAST(drift2 AS DOUBLE)), 9) AS drift
        FROM d2
    """,
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift between two corpus snapshots:
    the L2 distance between each label's reference centroid (the standing
    corpus, vec_id % 4 != 0) and its current-drop centroid (vec_id % 4 =
    0) — "did today's embeddings move?" per class, the batch spelling of
    the streaming monitor in streaming/centroid_drift.py (VERDICT r6 item
    5d: the monitor's exact batch oracle, the q_psi_drift pairing device).

    Scale shape: both sides are the bounded label_centroids aggregate
    (≤ |labels|·d map-side-combined partials per task, q_embedding_centroid's
    proof); the join and drift reduction then touch only 2·|labels|·d
    centroid rows — nothing scales with corpus size after the two scans.

    Determinism: centroids are the 9-dp-rounded shared aggregate; squared
    differences are 12-dp-rounded and summed in DECIMAL (order-free);
    drift is one sqrt on an exact decimal's double image, rounded at
    9 dp.  n_ref/n_cur = MAX over positions = the count at pos 0 = each
    side's non-empty vector count (vectors may vary in length)."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    ref = label_centroids(e.filter(F.col("vec_id") % 4 != 0)).select(
        "label", "pos",
        F.col("n_vecs").alias("n_r"), F.col("centroid_val").alias("c_ref"),
    )
    cur = label_centroids(e.filter(F.col("vec_id") % 4 == 0)).select(
        "label", "pos",
        F.col("n_vecs").alias("n_c"), F.col("centroid_val").alias("c_cur"),
    )
    diff = F.col("c_cur") - F.col("c_ref")
    d2 = (
        ref.join(cur, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.max("n_r").alias("n_ref"),
            F.max("n_c").alias("n_cur"),
            F.sum(
                F.round(diff * diff, 12).cast("decimal(28,12)")
            ).alias("drift2"),
        )
    )
    return d2.select(
        "label",
        "n_ref",
        "n_cur",
        F.round(F.sqrt(F.col("drift2").cast("double")), 9).alias("drift"),
    )


# ---------------------------------------------------------------------------
# q_fleiss_kappa — multi-rater chance-corrected agreement
# ---------------------------------------------------------------------------


@query(
    "q_fleiss_kappa",
    oracle=f"""
        WITH l AS (
          SELECT (CASE WHEN lang IS NOT DISTINCT FROM 'en' THEN 1 ELSE 0 END
                  + CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                              t -> t IN {_SW_SQL})) * 20
                              >= len(string_split(text, ' '))
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'the')
                         THEN 1 ELSE 0 END) AS n1
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COALESCE(SUM(n1), 0) AS BIGINT) AS t1,
                 CAST(COALESCE(SUM(n1 * n1 + (3 - n1) * (3 - n1) - 3), 0)
                      AS BIGINT) AS s
          FROM l
        )
        SELECT n, t1,
               round(CAST(s AS DOUBLE) / (6.0 * n), 9) AS pbar,
               round(CAST(t1 AS DOUBLE) / (3.0 * n)
                     * (CAST(t1 AS DOUBLE) / (3.0 * n))
                     + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * n))
                       * (1.0 - CAST(t1 AS DOUBLE) / (3.0 * n)), 9) AS pe,
               CASE WHEN t1 = 0 OR t1 = 3 * n THEN NULL
                    ELSE round((CAST(s AS DOUBLE) / (6.0 * n)
                                - (CAST(t1 AS DOUBLE) / (3.0 * n)
                                   * (CAST(t1 AS DOUBLE) / (3.0 * n))
                                   + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * n))
                                     * (1.0 - CAST(t1 AS DOUBLE) / (3.0 * n))))
                               / (1.0 - (CAST(t1 AS DOUBLE) / (3.0 * n)
                                         * (CAST(t1 AS DOUBLE) / (3.0 * n))
                                         + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * n))
                                           * (1.0 - CAST(t1 AS DOUBLE)
                                              / (3.0 * n)))), 9)
               END AS kappa
        FROM c WHERE n > 0
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971) across THREE document labelers — the
    multi-rater generalization of q_kappa_agreement, the statistic a
    labeling pipeline reports when every example gets n ≥ 3 annotations
    (rater pools, LLM-judge ensembles).  Raters on the is-English task:
    the lang metadata, the stopword-ratio heuristic (q_lang_id's
    classifier), and a lexical 'the'-substring heuristic.  Docs with NULL
    text can't be rated and are excluded on both engines.

    Scale shape: three scan-local 0/1 expressions collapse to the per-doc
    positive-vote count n1; ONE map-side-combined scalar aggregate
    carries two exact integer sums (Σn1 and Σ(n1²+(3−n1)²−3)) — a single
    summary row regardless of corpus size, the q_kappa_agreement shape
    with the per-item agreement P_i folded into integer algebra (P̄ =
    S/(6N) exactly, since every P_i is a rational with denominator 6).

    Determinism: pbar/pe/kappa derive from two exact integers via an
    identically-spelled IEEE tree rounded at 9 dp; the degenerate case
    (every rater votes the same category on every doc → pe = 1) is the
    exact integer condition t1 ∈ {0, 3n} — no float equality — and
    yields NULL on both engines."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks_lower = F.split(F.lower("text"), " ", -1)
    sw_hits = F.size(F.filter(toks_lower, lambda t: t.isin(*STOPWORDS)))
    n_toks = F.size(F.split("text", " ", -1))
    n1 = (
        (F.col("lang").eqNullSafe("en")).cast("int")
        + (sw_hits * 20 >= n_toks).cast("int")
        + F.lower("text").contains("the").cast("int")
    )
    c = d.select(n1.alias("n1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("n1"), F.lit(0)).cast("bigint").alias("t1"),
        F.coalesce(
            F.sum(
                F.col("n1") * F.col("n1")
                + (F.lit(3) - F.col("n1")) * (F.lit(3) - F.col("n1"))
                - F.lit(3)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("s"),
    )
    nd = F.col("n").cast("double")
    p1 = F.col("t1").cast("double") / (F.lit(3.0) * nd)
    pbar = F.col("s").cast("double") / (F.lit(6.0) * nd)
    pe = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    return c.filter(F.col("n") > 0).select(
        "n",
        "t1",
        F.round(pbar, 9).alias("pbar"),
        F.round(pe, 9).alias("pe"),
        F.when(
            (F.col("t1") == 0) | (F.col("t1") == F.lit(3) * F.col("n")),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round((pbar - pe) / (F.lit(1.0) - pe), 9))
        .alias("kappa"),
    )
