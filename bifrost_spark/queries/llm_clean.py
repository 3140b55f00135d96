"""Web-corpus cleaning operators — the curation steps between raw crawl
and training mix that the dedup/quality families don't cover:

* **per-domain caps** (``q_domain_cap``) — bound any single source's share
  of the corpus with a deterministic hash-ordered sample per domain.
* **Gopher-style document gates** (``q_gopher_rules``) — the classic
  rule-based quality filters (word-count bounds, mean-word-length band,
  stopword evidence) as per-rule booleans + a keep verdict, so downstream
  can audit WHY a document dropped (the difference between a filter and a
  black box).
* **CCNet perplexity buckets** (``q_ccnet_bucket``) — per-language
  head/middle/tail terciles of the unigram-LM surprisal score, the
  standard quality stratification before mixing.

All three are pure JVM DataFrame plans (no Python on the hot path):
domain caps are one window shuffle on source; Gopher gates are scan-local
array aggregates (zero shuffle); CCNet buckets reuse the surprisal frame
(scale_ops.unigram_surprisal) plus one per-language window.  Bucket
assignment uses rank-exact ``ntile(3)`` over a UNIQUE total order
(score, doc_id) rather than interpolated percentiles — integer arithmetic
on ranks is engine-exact where percentile interpolation is 1-ulp fragile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.queries._util import (
    HASH_BUCKETS_PROD,
    hash_bucket,
    spread,
    sql_hash_bucket,
)
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

_DOMAIN_CAP = 15

# Gopher-style gate parameters (Rae et al. 2021 §A1.1.2, rescaled to the
# fixture's short synthetic docs: the paper uses 50..100k words, mean word
# length 3..10)
_MIN_WORDS, _MAX_WORDS = 20, 100_000
_MIN_MWL, _MAX_MWL = 2.0, 10.0
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_MIN_STOPWORD_KINDS = 2


@query(
    "q_domain_cap",
    oracle=f"""
        SELECT doc_id, source, cap_rank
        FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS cap_rank
          FROM documents
        )
        WHERE cap_rank <= {_DOMAIN_CAP}
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most {cap} docs per source, chosen
    by md5-of-id order — an unbiased deterministic sample, not
    first-N-by-id (which would bias toward old documents).  One window
    shuffle on source; at 100 TB a skewed mega-domain is exactly the
    partition this bounds, and row_number short-circuits: Spark's window
    TopK pushdown (rank limit) stops accumulating past the cap."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("cap_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("cap_rank") <= _DOMAIN_CAP)
    )


@query(
    "q_gopher_rules",
    oracle=f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS words
          FROM documents
        ),
        m AS (
          SELECT doc_id,
                 CAST(len(words) AS BIGINT) AS n_words,
                 CASE WHEN len(words) > 0
                      THEN CAST(list_sum(list_transform(words,
                                t -> length(t))) AS DOUBLE) / len(words)
                 END AS mean_word_len,
                 CAST(len(list_distinct(list_filter(words,
                      t -> list_contains({list(_STOPWORDS)!r}, t))))
                      AS BIGINT) AS n_stopword_kinds
          FROM w
        )
        SELECT doc_id, n_words, mean_word_len, n_stopword_kinds,
               CAST(CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                          AND mean_word_len >= {_MIN_MWL}
                          AND mean_word_len <= {_MAX_MWL}
                          AND n_stopword_kinds >= {_MIN_STOPWORD_KINDS}
                         THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM m
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: word-count bounds, mean word
    length band, and stopword evidence, with the per-rule measurements in
    the output so a dropped document is auditable.

    Entirely scan-local (zero shuffle): the word array, its length, its
    summed character length (F.aggregate — int accumulation, exact), and
    the distinct-stopword count all evaluate inside the scan's project.
    mean_word_len = int/int single IEEE division — deterministic on both
    engines."""
    words = F.filter(F.split(F.col("text"), " ", -1), lambda t: t != "")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", words.alias("words")
    )
    n_words = F.size("words").cast("bigint")
    total_chars = F.aggregate(
        "words", F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    # Zero-word guard (adversarial-fuzzer finding): an empty or
    # whitespace-only crawl document has n_words = 0, and the unguarded
    # division crashes under Spark ANSI — including the streaming twin in
    # curate.py, where one junk doc would kill the ingest job.  NULL mean
    # word length (matching the oracle's CASE), keep = 0 via NULL-falsy
    # comparison.
    mean_wl = F.when(n_words > 0, total_chars.cast("double") / n_words)
    stop_kinds = F.size(
        F.array_distinct(
            F.filter("words", lambda t: t.isin(*_STOPWORDS))
        )
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_kinds.alias("n_stopword_kinds"),
    )
    keep = (
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & (F.col("mean_word_len") >= _MIN_MWL)
        & (F.col("mean_word_len") <= _MAX_MWL)
        & (F.col("n_stopword_kinds") >= _MIN_STOPWORD_KINDS)
    )
    return m.withColumn("keep", F.when(keep, 1).otherwise(0).cast("bigint"))


@query(
    "q_ccnet_bucket",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                            t -> t <> '')) AS tok
          FROM documents
        ),
        freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
        score AS (
          SELECT doc_id,
                 round(log2((SELECT t FROM tot))
                       - CAST(SUM(CAST(round(log2(f.c), 12)
                                       AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 9) AS avg_neg_log2_p
          FROM tok JOIN freq f USING (tok)
          GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang, s.avg_neg_log2_p AS score,
               CASE ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY s.avg_neg_log2_p, d.doc_id)
                 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM documents d JOIN score s USING (doc_id)
    """,
)
def q_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality stratification: per-language head/middle/tail
    terciles of the unigram-LM surprisal score (low surprisal = common,
    fluent text → head).  The real CCNet uses a KenLM perplexity; the
    unigram surprisal frame (scale_ops.unigram_surprisal, engine-exact)
    is the same signal class computed corpus-internally.

    Buckets come from ntile(3) over the UNIQUE order (score, doc_id) —
    pure rank arithmetic, so the tercile boundaries are engine-exact
    (interpolated percentiles would be 1-ulp fragile).  One window
    shuffle on lang; languages are few, so at 100 TB this window is the
    skew point — the production spelling re-partitions by (lang,
    score-range) first, which this plan's two-level shuffle (agg then
    window) already bounds."""
    from bifrost_spark.queries.scale_ops import unigram_surprisal

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s = unigram_surprisal(spark, sf_dir).select(
        "doc_id", F.col("avg_neg_log2_p").alias("score")
    )
    w = Window.partitionBy("lang").orderBy("score", "doc_id")
    tercile = F.ntile(3).over(w)
    return (
        d.join(s, "doc_id")
        .withColumn(
            "bucket",
            F.when(tercile == 1, "head")
            .when(tercile == 2, "middle")
            .otherwise("tail"),
        )
    )


_MIX_TEMPERATURE = 0.7  # classic multilingual/multi-source smoothing exponent
_MIX_TOKEN_BUDGET = 1_000_000


@query(
    "q_mixture_weights",
    oracle=f"""
        WITH tok AS (
          -- zero-token sources are excluded: they cannot be sampled, and
          -- keeping them makes both the normalizer and the epochs ratio
          -- 0/0 (fuzzer finding)
          SELECT source,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                                          t -> t <> ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
          HAVING n_tokens > 0
        ),
        powed AS (
          SELECT source, n_tokens,
                 round(power(n_tokens, {_MIX_TEMPERATURE}), 9) AS w
          FROM tok
        ),
        tot AS (
          SELECT CAST(SUM(CAST(round(w, 9) AS DECIMAL(28,9))) AS DOUBLE) AS z
          FROM powed
        )
        SELECT source, n_tokens,
               round(w / (SELECT z FROM tot), 9) AS sample_prob,
               round(({_MIX_TOKEN_BUDGET} * (w / (SELECT z FROM tot)))
                     / n_tokens, 6) AS epochs
        FROM powed
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixture solver (the T5/LLaMA multi-source
    smoothing step): per-source sampling probability ∝ n_tokens^T with
    T = {T}, plus the implied epochs-per-source for a fixed token budget —
    upweighting small sources without letting any source dominate.

    One scan-local token count per doc (no explode — array length only),
    one groupBy source, then a 1-row normalizer broadcast back.
    Determinism: pow/div are rounded at 9 dp before the decimal-sum
    normalizer and at the output (double pow differs by ≤1 ulp across
    engines; 9 dp is far above it)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " ", -1), lambda t: t != "")
    # |sources| rows — checkpoint so the normalizer pass below reuses the
    # aggregate instead of re-running the corpus token count
    tok = (
        d.select("source", F.size(words).cast("bigint").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        # zero-token sources can't be sampled and would make the
        # normalizer and epochs 0/0 (fuzzer finding)
        .filter(F.col("n_tokens") > 0)
        .localCheckpoint(eager=True)
    )
    powed = tok.select(
        "source",
        "n_tokens",
        F.round(F.pow("n_tokens", F.lit(_MIX_TEMPERATURE)), 9).alias("w"),
    )
    z = powed.agg(
        F.sum(F.round("w", 9).cast("decimal(28,9)")).cast("double").alias("z")
    )
    return powed.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(F.col("w") / F.col("z"), 9).alias("sample_prob"),
        F.round(
            (F.lit(_MIX_TOKEN_BUDGET) * (F.col("w") / F.col("z")))
            / F.col("n_tokens"),
            6,
        ).alias("epochs"),
    )


# Fixture-sized hashed-feature space (64 buckets keeps collision behavior
# eyeballable in tests and the oracle SQL readable).  The paper's discipline
# is ~10k buckets (Xie et al. 2023 §3) — production runs should pass
# ``n_buckets=_util.HASH_BUCKETS_PROD`` (8192) or larger; the spelling is
# O(n_buckets) driver state either way and is proven at 1024 by the
# driver-checked q_dsir_weights_hires.
_DSIR_BUCKETS = 64
_DSIR_TARGET_SOURCES = ("src1", "src2", "src3")  # the target-domain sample


def _dsir_weights_sql(n_buckets: int) -> str:
    """DuckDB oracle for the DSIR weight at any power-of-two bucket count
    (bucket derivation mirrors _util.hash_bucket digit-for-digit)."""
    return f"""
        WITH tok AS (
          SELECT doc_id, source,
                 {sql_hash_bucket('t', n_buckets)} AS bucket
          FROM (SELECT doc_id, source,
                       unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS t
                FROM documents)
        ),
        bs AS (
          SELECT bucket,
                 CAST(COUNT(*) AS BIGINT) AS cr,
                 CAST(COUNT(*) FILTER (WHERE source IN
                      {_DSIR_TARGET_SOURCES}) AS BIGINT) AS ct
          FROM tok GROUP BY bucket
        ),
        tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM bs)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(CAST(SUM(CAST(round(log2(ct + 1), 12) AS DECIMAL(28,12))
                              - CAST(round(log2(cr + 1), 12) AS DECIMAL(28,12)))
                          AS DOUBLE) / COUNT(*)
                     + log2((SELECT nr FROM tot) + {n_buckets})
                     - log2((SELECT nt FROM tot) + {n_buckets}),
                     9) AS avg_log2_ratio
        FROM tok JOIN bs USING (bucket)
        GROUP BY doc_id
"""


# Shared by q_dsir_weights (verbatim oracle) and q_dsir_resample (CTE).
_DSIR_WEIGHTS_SQL = _dsir_weights_sql(_DSIR_BUCKETS)


@query("q_dsir_weights", oracle=_DSIR_WEIGHTS_SQL)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every raw
    document by how target-like its hashed bag-of-words is — the
    per-token average log₂ importance ratio between a target-domain
    unigram model and the raw-corpus model, both add-1-smoothed over a
    {B}-bucket hashed feature space.  Downstream resamples the corpus
    with these weights (e.g. Gumbel top-k); the weight itself is the
    deterministic, oracle-checkable core.

    Plan: two passes over the token explode — (a) the model fit, a
    {B}-row map-side-combined bucket-count aggregate COLLECTED to the
    driver (2·{B} longs — the whole point of hashed features is that the
    model is this small), and (b) the per-doc aggregation, where the
    per-token addend is a literal {B}-entry lookup (element_at on the
    folded-back counts) — no join, no broadcast exchange, everything
    JVM-side.  A broadcast-join spelling measured 2.06 s at sf0.1
    because the explode was recomputed for the join build, the totals,
    AND the probe; the literal fold-back removes both extra passes.

    Determinism: the ratio decomposes into integer-count logs —
    Σ[log₂(ct+1) − log₂(cr+1)] per token accumulates 12-dp-rounded
    addends in DECIMAL(28,12) (order-free), and the smoothing constant
    log₂(Nr+B) − log₂(Nt+B) shifts the per-token average after the sum
    (same device as q_lm_score; output rounded 9 dp, far above the
    ≤1e-12 cross-engine addend divergence)."""
    return dsir_weights(spark, sf_dir, _DSIR_BUCKETS)


@query("q_dsir_weights_hires", oracle=_dsir_weights_sql(1024))
def q_dsir_weights_hires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dsir_weights at a 1024-bucket feature space — the proof that the
    literal-lookup spelling holds at paper-scale bucket counts (Xie et al.
    2023 use ~10k; driver state here is 2·1024 longs, still trivially
    bounded).  Same plan, same determinism devices; only ``n_buckets``
    differs, exercising the 3-hex-digit bucket derivation."""
    return dsir_weights(spark, sf_dir, 1024)


def dsir_weights(
    spark: SparkSession, sf_dir: str, n_buckets: int = HASH_BUCKETS_PROD
) -> DataFrame:
    """Parameterized DSIR core — see q_dsir_weights.  ``n_buckets`` is the
    hashed-feature space size (power of two; production default 8192, the
    nearest power of two to the paper's 10k)."""
    d = load_table(spark, sf_dir, "documents")
    # pinned keyed repartition + checkpoint: the md5-per-token bucket
    # derivation is the dominant CPU and feeds BOTH the model-fit pass and
    # the per-doc pass — without this it ran twice, single-task on the one
    # input split (guide §2.5/§5 caching-for-reuse; measured 1.1 → 0.35 s
    # at sf0.1).  The checkpoint holds only (doc_id, source, bucket) —
    # ~17 bytes per token, never the text.
    toks = spread(d, "doc_id").select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
        ).alias("t"),
    )
    # md5 hex digits decoded to 0-15 before combining (_util.hash_bucket):
    # the former ascii(c1)*256 + ascii(c2) spelling collapsed mod 64 to
    # ascii(c2) alone (256 ≡ 0 mod 64) — 16 effective buckets, not 64
    tok = toks.select(
        "doc_id", "source", hash_bucket("t", n_buckets).alias("bucket")
    ).localCheckpoint(eager=True)
    is_target = F.col("source").isin(*_DSIR_TARGET_SOURCES)
    # model fit: ONE bounded collect of 2·B longs (the sample_rows /
    # train_kmeans discipline — hashed features exist so the model fits
    # on the driver at any corpus size)
    stats = (
        tok.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"), F.count_if(is_target).alias("ct"))
        .collect()
    )
    cr = [0] * n_buckets
    ct = [0] * n_buckets
    for r in stats:
        cr[r["bucket"]] = r["cr"]
        ct[r["bucket"]] = r["ct"]
    nr, nt = sum(cr), sum(ct)
    # per-token addend as a literal lookup — the log2/round/decimal chain
    # is IDENTICAL to the former join spelling (Spark evaluates the same
    # expressions on the same integer counts), so results are bit-equal
    # single-expression BIGINT literals (vectors.py::sql_literal): the
    # per-element F.lit spelling costs one py4j round-trip per bucket
    # (2×1024 calls at hires) of plan-build time
    from bifrost_spark.operators.vectors import sql_literal

    cr_arr = F.expr(f"CAST({sql_literal(cr)} AS ARRAY<BIGINT>)")
    ct_arr = F.expr(f"CAST({sql_literal(ct)} AS ARRAY<BIGINT>)")
    addend = F.round(
        F.log2(F.element_at(ct_arr, F.col("bucket") + 1) + 1), 12
    ).cast("decimal(28,12)") - F.round(
        F.log2(F.element_at(cr_arr, F.col("bucket") + 1) + 1), 12
    ).cast("decimal(28,12)")
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(addend).alias("sum_ratio"),
    )
    shift = F.log2(F.lit(nr + n_buckets)) - F.log2(F.lit(nt + n_buckets))
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("sum_ratio").cast("double") / F.col("n_tokens") + shift, 9
        ).alias("avg_log2_ratio"),
    )


_RESAMPLE_K = 100
# Knuth multiplicative hash constant (2654435761 = floor(2^32/phi)); the
# modulus keeps the product within int64 for any fixture doc_id.
_KNUTH, _U_MOD = 2654435761, 4294967296


@query(
    "q_dsir_resample",
    oracle=f"""
        WITH w AS ({_DSIR_WEIGHTS_SQL})
        SELECT doc_id, rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS BIGINT)
                   AS rnk
          FROM (
            SELECT doc_id,
                   round(avg_log2_ratio
                         - log2(-ln((CAST(doc_id * {_KNUTH} AS BIGINT)
                                     % {_U_MOD} + 0.5) / {_U_MOD})),
                         9) AS gkey
            FROM w
          )
        ) WHERE rnk <= {_RESAMPLE_K}
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling via Gumbel top-k (Xie et al. 2023 §2;
    Vieira 2014 for the Gumbel-max trick): draw {K} documents WITHOUT
    replacement with probability ∝ 2^weight by ranking key_i = w_i + g_i
    and keeping the top {K}, where g_i is the doc's Gumbel noise.  One
    ranking pass replaces sequential weighted draws — the only formulation
    of weighted sampling-without-replacement that parallelizes.

    The noise is DERIVED, not drawn: u_i = Knuth-multiplicative-hash
    (doc_id) mapped to (0,1), g_i = −log₂(−ln u_i).  Exact integer
    arithmetic feeds identical doubles to both engines' ln/log2, so the
    sample is reproducible across retries, partitionings, and engines —
    a task-retried executor regenerates the identical sample, which
    RNG-based sampling cannot guarantee.

    Scale shape: reuses the q_dsir_weights plan (two shuffles), adds one
    scan-local key expression and a global top-{K} that Spark runs as
    TakeOrderedAndProject (per-partition heaps, never a full sort).  The
    final rank window touches {K} rows.  Determinism: key rounded to
    9 dp (1-ulp libm guard), ties by doc_id; the float key stays out of
    the output."""
    w = q_dsir_weights(spark, sf_dir)
    u = ((F.col("doc_id") * _KNUTH).cast("bigint") % _U_MOD + 0.5) / _U_MOD
    keyed = w.select(
        "doc_id",
        F.round(F.col("avg_log2_ratio") - F.log2(-F.log(u)), 9).alias("gkey"),
    )
    top = keyed.orderBy(F.desc("gkey"), F.asc("doc_id")).limit(_RESAMPLE_K)
    rw = Window.orderBy(F.desc("gkey"), F.asc("doc_id"))
    return top.select(
        "doc_id", F.row_number().over(rw).cast("bigint").alias("rnk")
    )


_QC_ITERS, _QC_LR, _QC_L2 = 400, 2.0, 1e-4
_QC_SAMPLE_MAX = 65_536
# own (larger) hashed feature space: a discriminative model loses accuracy
# to hash collisions much faster than DSIR's smoothed generative ratio, so
# the fixture classifier hashes into 256 buckets (still 2*256 floats of
# state); production should pass n_buckets=HASH_BUCKETS_PROD or larger to
# quality_classifier() — the spelling is O(n_buckets) driver state only.
_QC_BUCKETS = 256


def _qc_featurize_sample(rows, n_buckets=_QC_BUCKETS):
    """Numpy (X, y) from (bucket-count-dict, n, label) sample rows."""
    import numpy as np

    X = np.zeros((len(rows), n_buckets), dtype=np.float64)
    y = np.zeros(len(rows), dtype=np.float64)
    for i, (buckets, n, label) in enumerate(rows):
        for b, c in buckets.items():
            X[i, b] = c / n
        y[i] = label
    return X, y


def _qc_train(X, y):
    """Full-batch logistic regression, fixed-iteration gradient descent —
    deterministic (no RNG, no data-order dependence: gradients are exact
    sums) and convex, so the fit is reproducible bit-for-bit."""
    import numpy as np

    n, d = X.shape
    w = np.zeros(d)
    b = 0.0
    if n == 0:
        # empty training sample (empty / all-unusable corpus): the
        # untrained neutral model (every score sigmoid(0) = 0.5), not
        # NaN weights from the 0/0 gradient (fuzzer finding)
        return w, b
    for _ in range(_QC_ITERS):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= _QC_LR * (X.T @ g / n + _QC_L2 * w)
        b -= _QC_LR * float(g.mean())
    return w, b


@query("q_quality_classifier", oracle=None)  # trained model → rows-only
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style discriminative quality classifier (the CCNet/LLaMA
    curation device: train a linear classifier "does this look like the
    target domain?" and keep high scorers) over the hashed bag-of-words feature
    space DSIR uses (256 buckets here — a discriminative boundary loses
    accuracy to hash collisions faster than a smoothed likelihood ratio) — DSIR scores by a GENERATIVE
    likelihood ratio, this by a trained DISCRIMINATIVE boundary; pipelines
    run both.

    Training follows the engine's sample-fit discipline (cells.py): ONE
    bounded deterministic sample (xxhash64-ordered, ≤64k docs) of per-doc
    normalized bucket counts is collected, sorted by doc_id (collect()
    order is partition-layout-dependent and X's row order feeds float
    dot products), and fit driver-side with fixed-iteration full-batch
    logistic regression (no RNG → bit-reproducible weights for a given
    corpus, regardless of partitioning).  Labels: doc's source in the
    target set.

    Scoring is corpus-scale JVM: since features are per-token bucket
    averages, w·x = mean over tokens of w[bucket(token)] — one explode +
    one per-doc avg of a 256-entry literal lookup, no Python, no join, no
    model broadcast.  Output: (doc_id, n_tokens, score, predicted) with
    score = round(sigmoid, 9).

    Gates (tests/test_quality_classifier.py): trainer recovers a
    separable synthetic boundary; scores are partition-count invariant;
    target-source mean score exceeds non-target mean on the fixture
    (the classifier learns SOMETHING); rerun determinism."""
    return quality_classifier(spark, sf_dir, _QC_BUCKETS)


def quality_classifier(
    spark: SparkSession, sf_dir: str, n_buckets: int = HASH_BUCKETS_PROD
) -> DataFrame:
    """Parameterized classifier core — see q_quality_classifier.
    ``n_buckets`` sizes the hashed feature space (fixture 256, production
    default 8192); driver state is 2·n_buckets floats either way."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
        ).alias("t"),
    )
    # no oracle to mirror → use the native 64-bit hash (perfectly uniform
    # over any bucket count, cheaper than md5)
    bucket = F.pmod(F.xxhash64("t"), F.lit(n_buckets)).cast("int")
    tok = toks.select("doc_id", "source", bucket.alias("bucket"))

    # bounded deterministic training sample: pick the ≤64k sample DOCS
    # first (xxhash64-ordered TakeOrdered over ids — cells.sample_rows
    # shape), then tokenize only those: training-side work is bounded by
    # the sample at any corpus size, never a corpus-wide aggregation
    sample_docs = (
        d.select("doc_id", "source")
        .orderBy(F.xxhash64(F.col("doc_id")), F.col("doc_id"))
        .limit(_QC_SAMPLE_MAX)
    )
    # NULL-source docs are NOT target: isin() is NULL on a NULL source,
    # which cast to a NULL label and np.float64(None) = NaN — one
    # missing-metadata doc in the sample NaN-poisoned the whole gradient
    # and every corpus score (fuzzer finding, caught by sql_literal's
    # non-finite guard; the DSIR twin at line ~396 was already safe —
    # count_if skips NULL)
    is_target = F.coalesce(
        F.col("source").isin(*_DSIR_TARGET_SOURCES), F.lit(False)
    )
    per_doc = (
        tok.join(F.broadcast(sample_docs.select("doc_id")), "doc_id")
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "source")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bucket", "c")))
            ).alias("buckets"),
            F.sum("c").alias("n"),
        )
    )
    sample = per_doc.select(
        "doc_id", "buckets", "n", is_target.cast("int").alias("label")
    ).collect()
    # collect() yields rows in partition order, which varies with input
    # layout / AQE coalescing; the gradient sums in _qc_train are exact
    # per-iteration but X's ROW order feeds float dot products (X.T @ g),
    # so weights are only bit-reproducible if the sample order is pinned.
    sample.sort(key=lambda r: r["doc_id"])
    X, y = _qc_featurize_sample(
        [(r["buckets"], r["n"], r["label"]) for r in sample], n_buckets
    )
    w, b = _qc_train(X, y)

    # corpus-wide scoring: mean of w[bucket] per doc + bias, all JVM
    from bifrost_spark.operators.vectors import sql_literal

    w_arr = F.expr(sql_literal(list(w)))
    scored = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.avg(F.element_at(w_arr, F.col("bucket") + 1)).alias("wx"),
    )
    z = F.col("wx") + F.lit(float(b))
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9).alias("score"),
        (z > 0).cast("int").alias("predicted"),
    )
