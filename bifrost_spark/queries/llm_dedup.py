"""Deduplication operator family (driver mandate: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup) over ``documents`` /
``embeddings``.

Scale shapes (100 TB posture):
  * exact dedup shuffles md5 fingerprints, never text;
  * exact Jaccard is the oracle-checkable baseline (shingle join);
  * MinHash+LSH banding is the production path — candidate volume tracks the
    true near-dup volume, not |docs|²;
  * SimHash carries 8 bytes/doc with pigeonhole chunk blocking;
  * embedding near-dup does a bounded self-join here, with the LSH-bucketed
    variant in q_sim_ann_lsh (llm_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bifrost_spark.operators.dedup import (
    char_shingles,
    connected_components,
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
    simhash_near_pairs,
)
from bifrost_spark.operators.vectors import (
    cosine,
    cosine_pair_candidates,
    local_frame,
    norm2_fast,
    scale_by,
)
from bifrost_spark.queries._util import spread
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

SHINGLE_K = 10
JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.45  # fixture max pairwise cosine is ~0.51
# Hub/boilerplate shingle cap for the exact-Jaccard baseline: shingles in
# more documents than this are dropped before the self-join (see
# operators/dedup.py::exact_jaccard_pairs).  50 yields the identical ≥0.5
# pair set as uncapped on sf0.01 and sf0.1 (measured) while cutting the
# candidate bound ~20× at sf0.1.
MAX_SHINGLE_DF = 50


@query(
    "q_dedup_exact",
    oracle="""
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS keeper_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id per group.
    Grouping on md5(text) (not text) keeps shuffle rows at 16 bytes + ids —
    the difference between shuffling 100 TB and shuffling 50 GB."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
        WITH sh0 AS (
          SELECT DISTINCT doc_id,
                 substr(text, CAST(i AS INT), {SHINGLE_K}) AS shingle
          FROM documents,
               UNNEST(range(1, greatest(len(text) - {SHINGLE_K - 1}, 1) + 1)) AS t(i)
        ),
        sh AS (
          SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0
            GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF})
        ),
        cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS jaccard
        FROM common
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= {JACCARD_THRESHOLD}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-10-gram Jaccard near-dup pairs (threshold 0.5),
    hub shingles (df > {MAX_SHINGLE_DF}) dropped before the self-join.
    The exact baseline the randomized sketches (MinHash/SimHash) are tested
    against.  jaccard = bigint/bigint single division → engine-bit-stable."""
    d = load_table(spark, sf_dir, "documents")
    sh = char_shingles(d, "text", "doc_id", k=SHINGLE_K)
    return exact_jaccard_pairs(
        sh, "doc_id", JACCARD_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    )


@query("q_dedup_minhash", oracle=None)  # hash-family specific → rows-only
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH banding (16 bands × 4 rows): near-dup candidates with
    estimated Jaccard ≥ 0.5.  Deterministic xxhash64 hash family (no RNG) but
    not SQL-portable → driver checks rows-only; tests/test_sketch_quality.py
    asserts recall vs the exact q_dedup_ngram_jaccard pairs."""
    d = load_table(spark, sf_dir, "documents")
    # word-3-gram shingles (tokens hashed once, shingles hash 3 longs) at
    # winnow_mod=2: recall=precision=1.0 on the quality gates at sf0.01 AND
    # sf0.1 (identical pair set to char-10-gram), 2.3× faster than the char
    # path — the per-position substr+string-hash was the measured floor
    sig = minhash_signatures(
        d, "text", "doc_id", num_hashes=64, winnow_mod=2, shingle="word"
    )
    pairs = lsh_candidate_pairs(sig, "doc_id", bands=16, rows_per_band=4)
    return pairs.filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)


@query("q_dedup_simhash", oracle=None)  # xxhash64 family → rows-only
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (hamming ≤ 7) with 8-bit chunk blocking —
    the radius with COMPLETE pigeonhole recall over 8 chunks.
    8 bytes of state per document → the cheapest sketch at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    sim = simhash64(d, "text", "doc_id")
    return simhash_near_pairs(sim, "doc_id", max_hamming=7)


@query(
    "q_dedup_embedding",
    oracle=f"""
        WITH nrm AS (
          SELECT vec_id, embedding,
                 CAST((SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                       AS DECIMAL(22,18)))
                       FROM UNNEST(embedding) AS u(x)) AS DOUBLE) AS nrm2
          FROM embeddings
          WHERE nrm2 > 0  -- zero vectors have no cosine; excluded both sides
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 CAST((SELECT SUM(CAST(CAST(t.x AS DOUBLE) * CAST(t.y AS DOUBLE)
                                       AS DECIMAL(22,18)))
                       FROM (SELECT UNNEST(a.embedding) AS x,
                                    UNNEST(b.embedding) AS y) t) AS DOUBLE)
                   / (sqrt(a.nrm2) * sqrt(b.nrm2)) AS cos_sim
          FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b FROM pairs
        WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.45), two-phase:

    1. prefilter — numpy float64 cosine over every pair with a 1e-6
       threshold margin (float64 matmul differs from the exact decimal fold
       by < 1e-12 relative, so no true pair can be lost);
    2. exact rescore — the engine-bit-stable DECIMAL(22,18) cosine
       (operators/vectors.py) only on survivors (|near-dups|, not |pairs|²).

    Phase 1 is an Arrow-batched numpy matmul against the broadcast corpus
    (operators/vectors.py::cosine_pair_candidates — BLAS does |batch|×|corpus|
    dots per call); above broadcast size the LSH-bucketed candidate generator
    (q_sim_ann_lsh) replaces it.  The raw double score is kept out of the
    compared output — decimal→double conversion differs by 1 ulp between
    engines."""
    # zero-norm exclusion (fuzzer finding): a zero embedding has no cosine
    # with anything — under ANSI the division would fail the whole job on
    # one junk vector; excluded identically in the oracle
    e = load_table(spark, sf_dir, "embeddings").filter(
        norm2_fast(F.col("embedding")) > 0
    )
    cand = cosine_pair_candidates(
        e, "vec_id", "embedding", COSINE_DUP_THRESHOLD, margin=1e-6
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
        .select("id_a", "id_b")
    )


@query(
    "q_dedup_cluster",
    oracle=f"""
        WITH RECURSIVE sh0 AS (
          SELECT DISTINCT doc_id,
                 substr(text, CAST(i AS INT), {SHINGLE_K}) AS shingle
          FROM documents,
               UNNEST(range(1, greatest(len(text) - {SHINGLE_K - 1}, 1) + 1)) AS t(i)
        ),
        sh AS (
          SELECT * FROM sh0 WHERE shingle IN (
            SELECT shingle FROM sh0
            GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF})
        ),
        cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b FROM common
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
                  >= {JACCARD_THRESHOLD}
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        walk(id, component) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.component
          FROM edges e JOIN walk w ON e.dst = w.id
          WHERE w.component < e.src OR w.component < w.id
        )
        SELECT id, MIN(component) AS component
        FROM walk GROUP BY id
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the exact-Jaccard
    pairs, component labeled by its min doc_id — the step after pair
    generation in every dedup pipeline (keep one doc per component, drop
    the rest).  Iterative min-label propagation (operators/dedup.py);
    rounds = component diameter, each round one shuffle join over |edges|.
    Oracle: DuckDB recursive CTE reachability."""
    d = load_table(spark, sf_dir, "documents")
    sh = char_shingles(d, "text", "doc_id", k=SHINGLE_K)
    pairs = exact_jaccard_pairs(
        sh, "doc_id", JACCARD_THRESHOLD, max_shingle_df=MAX_SHINGLE_DF
    ).select("id_a", "id_b")
    return connected_components(pairs)


DUP_SPAN_K = 8  # tokens per gram for duplicated-span detection


_DUP_SPANS_SQL = f"""
        WITH words AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents
        ),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(ws[i:i + {DUP_SPAN_K - 1}], ' ') AS gram
          FROM words,
               UNNEST(range(1, len(ws) - {DUP_SPAN_K} + 2)) AS t(i)
          WHERE len(ws) >= {DUP_SPAN_K}
        ),
        dup AS (
          SELECT gram FROM grams
          GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
        ),
        hits AS (
          SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
        ),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                ORDER BY pos)
                           <= {DUP_SPAN_K} THEN 0 ELSE 1 END AS new_island
          FROM hits
        ),
        lab AS (
          SELECT doc_id, pos,
                 SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
          FROM isl
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {DUP_SPAN_K - 1} AS BIGINT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_dup_grams
        FROM lab GROUP BY doc_id, island
    """


@query("q_dup_spans", oracle=_DUP_SPANS_SQL)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate-SPAN detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find the
    regions of each document whose {k}-token grams also occur in OTHER
    documents, merged into maximal spans — the operator that removes
    repeated boilerplate/quotes without dropping whole documents (which
    whole-doc exact/minhash dedup cannot do).

    Plan: gram construction is scan-local (transform over the word array —
    no window, no shuffle); one shuffle groups grams to find cross-doc
    duplicates; a semi join brings dup positions back; one per-doc window
    merges overlapping/adjacent positions into islands (gaps-and-islands,
    pure integer arithmetic — engine-exact).  Grams group/join on the
    SHARED token_gram_hashes builder's token-array-slice xxhash64
    (operators/dedup.py — one spelling with q_dup_span_ladder and
    q_ngram_novelty) — 8 bytes through both shuffles, no gram string
    ever materialized (measured 1.8 → 1.4 s at sf0.1);
    identical spans to the string-keyed oracle modulo 2⁻⁶⁴ hash
    collisions, the same accepted risk as the minhash family's
    hash-identity.  1-based positions: span [span_start, span_end] covers
    span_end − span_start + 1 tokens of the filtered word sequence."""
    from pyspark.sql.window import Window

    from bifrost_spark.operators.dedup import token_gram_hashes, word_array

    k = DUP_SPAN_K
    d = load_table(spark, sf_dir, "documents")
    # _util.spread: the gram-hash explode below is the dominant CPU and a
    # small corpus file is ONE input split (guide §2.5)
    base = spread(d, "doc_id").select(
        "doc_id", word_array().alias("ws")
    ).filter(F.size("ws") >= k)
    # grams come from the SHARED token_gram_hashes builder (one spelling
    # with q_dup_span_ladder and q_ngram_novelty — VERDICT r8 item 4):
    # the token-array-slice xxhash64, no gram string ever materialized,
    # no separator ambiguity ("ab","c" vs "a","bc")
    grams = base.select(
        "doc_id", F.explode(token_gram_hashes("ws", k)).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    # The gram frame feeds the dup build AND the semi-join probe; Catalyst
    # re-runs the k-hash explode for each consumer (no subtree reuse).
    # One 16-byte-row materialization beats two derivations: 2.1 → 1.5 s
    # at sf0.1, and one documents scan instead of two at any scale.
    grams = grams.localCheckpoint(eager=True)
    # "shared by >1 distinct doc" as min != max (identical predicate):
    # min/max are single-phase map-side aggregates, where count_distinct
    # expands to a two-phase distinct plan (guide §2.3)
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("gh")
    )
    hits = grams.join(dup, "gh", "leftsemi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = hits.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, 0).otherwise(1),
    )
    labeled = lagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return labeled.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    ).drop("island")


@query(
    "q_dup_fraction",
    oracle=f"""
        WITH spans AS ({_DUP_SPANS_SQL}),
        wc AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                      AS BIGINT) AS n_words
          FROM documents
        )
        SELECT w.doc_id, w.n_words,
               CAST(COALESCE(SUM(s.span_end - s.span_start + 1), 0)
                    AS BIGINT) AS dup_tokens,
               CASE WHEN w.n_words = 0 THEN 0.0
                    ELSE round(CAST(COALESCE(SUM(s.span_end - s.span_start
                                                 + 1), 0) AS DOUBLE)
                               / w.n_words, 9)
               END AS dup_frac
        FROM wc w LEFT JOIN spans s USING (doc_id)
        GROUP BY w.doc_id, w.n_words
    """,
)
def q_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication fraction — the memorization-risk score
    built on q_dup_spans: what share of each document's tokens sits
    inside a cross-document duplicate span.  Lee et al. 2022 report this
    is the quantity to THRESHOLD on (drop or trim docs past ~20-30%
    duplicated) rather than whole-doc near-dup flags, because boilerplate
    concentrates; it is also the standard memorization-exposure proxy.

    Plan: the span frame's per-doc rollup (spans are disjoint by
    construction — gaps-and-islands merged — so summing lengths is exact
    coverage), LEFT-joined onto the per-doc word count so never-duplicated
    documents report 0.0 rather than vanishing.  One extra scan for the
    word counts; dup_tokens/n_words is an integer-operand single division
    rounded at 9 dp — engine-exact."""
    spans = q_dup_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("dup_tokens")
    )
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " ", -1), lambda t: t != "")
    wc = d.select("doc_id", F.size(words).cast("bigint").alias("n_words"))
    joined = wc.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
    )
    return joined.withColumn(
        "dup_frac",
        F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_words"), 9
            )
        ),
    )


# Target mean cluster size: k = clamp(n / TARGET, 4, 4096) keeps the
# within-cluster Σ|cell|² work ≈ n·TARGET as the corpus grows — the
# property that makes SemDeDup beat the |corpus|² self-join at any scale.
SEMDEDUP_TARGET_CELL = 25
SEMDEDUP_K_MIN, SEMDEDUP_K_MAX = 4, 4096
SEMDEDUP_FIT_SAMPLE = 100_000  # k-means fit rows cap (sample-fit beyond)


def semdedup_k(n: int) -> int:
    """Cluster count derived from corpus size (VERDICT r2 item 4)."""
    return max(SEMDEDUP_K_MIN, min(SEMDEDUP_K_MAX, n // SEMDEDUP_TARGET_CELL))


@query("q_dedup_semantic", oracle=None)  # kmeans path → rows-only + gates
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space (k-means, fixed seed) and removing near-duplicates
    WITHIN each cluster — the scale path that replaces the all-pairs
    cosine self-join with |cluster|² work per cluster.  k is DERIVED
    from the corpus size (``semdedup_k``: n / target-cell-size, clamped)
    so Σ|cell|² stays ≈ n·target as the corpus grows; the fit runs on a
    bounded deterministic sample once the corpus exceeds
    ``SEMDEDUP_FIT_SAMPLE`` rows (assignment still covers every row).

    Output: one row per dropped document — (drop_id, keeper_id, cluster,
    cos_sim rounded 6dp) with the keeper = lowest vec_id in the near-dup
    pair, so downstream subtracts drops from the corpus.  Pairs that
    straddle a cluster boundary are missed BY DESIGN (the recall/cost
    trade SemDeDup makes); tests/test_sketch_quality.py measures recall
    against the exact pair set on both the fixture and a clustered
    synthetic corpus, and pins precision 1.0 (every emitted pair IS an
    exact near-dup — cosines are genuine, only candidate generation is
    approximate).

    Plan: one k-means fit (cells.py::train_kmeans — deterministic
    xxhash64-ordered sample collect + driver Lloyd's, the FAISS
    discipline), one scan to assign cells (operators/cells.py: literal
    JVM dot folds at small k, one BLAS matmul per Arrow batch above
    LITERAL_K_MAX — O(1) plan nodes at production k), one self-join per
    cell on the cell key — shuffle volume is Σ|cell|², never |corpus|²."""
    from bifrost_spark.operators.cells import assign_cell, train_kmeans
    from bifrost_spark.operators.vectors import norm2_fast

    e = load_table(spark, sf_dir, "embeddings")
    nrm = e.select(
        "vec_id", "embedding", F.sqrt(norm2_fast(F.col("embedding"))).alias("nrm")
    ).filter(F.col("nrm") > 0)
    unit = nrm.select(
        "vec_id",
        scale_by(F.col("embedding"), F.col("nrm")).alias("unit"),
    )
    n = unit.count()
    if n == 0:
        # no usable vectors (empty / all-zero / all-NULL corpus): nothing
        # to dedup — an empty drop list, not a crashed fit (fuzzer finding)
        return local_frame(
            spark, [], "drop_id long, keeper_id long, cluster bigint, cos_sim double"
        )
    centers = train_kmeans(
        unit, "unit", "vec_id", semdedup_k(n), seed=13,
        max_rows=SEMDEDUP_FIT_SAMPLE,
    )
    assigned = unit.select(
        "vec_id", "unit", assign_cell("unit", centers).alias("cell")
    )

    def _cell_pairs(pdf):
        """Per-cluster numpy kernel: one |cell|×|cell| float64 matmul, emit
        pairs above threshold.  This is SemDeDup's actual inner loop — a
        JVM self-join spelling was measured 26 s at sf0.1 (per-pair
        higher-order-function dots run outside codegen at ~100 µs each);
        the BLAS matmul does the same cell in milliseconds."""
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        u = np.vstack(pdf["unit"].to_numpy())
        sims = u @ u.T
        ia, ib = np.triu_indices(len(pdf), k=1)
        keep = sims[ia, ib] >= COSINE_DUP_THRESHOLD
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {
                "drop_id": ids[ib[keep]],
                "keeper_id": ids[ia[keep]],
                "cluster": pdf["cell"].iloc[0] if len(pdf) else 0,
                "cos_sim": np.round(sims[ia[keep], ib[keep]], 6),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        _cell_pairs,
        "drop_id long, keeper_id long, cluster bigint, cos_sim double",
    )


@query(
    "q_dedup_incremental",
    oracle="""
        WITH existing AS (
          SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 <> 0
        ),
        new_docs AS (
          SELECT doc_id, md5(text) AS content_hash
          FROM documents WHERE doc_id % 4 = 0
        ),
        new_first AS (
          SELECT content_hash,
                 CAST(min(doc_id) AS BIGINT) AS doc_id,
                 CAST(count(*) AS BIGINT) AS n_new_copies
          FROM new_docs GROUP BY content_hash
        )
        SELECT doc_id, content_hash, n_new_copies
        FROM new_first
        WHERE NOT EXISTS (
          SELECT 1 FROM existing e WHERE e.h = new_first.content_hash
        )
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental exact dedup — the INGESTION-time shape: a new
    batch of documents (fixture stand-in: doc_id % 4 = 0) is admitted
    only if its content hash is unseen in the existing corpus (the other
    3/4) AND it is the first copy within the new batch itself.

    This is what a daily crawl drop runs: dedup |new| against
    |corpus|+|new| WITHOUT re-deduping the corpus (q_dedup_exact
    re-scores everything — correct for a full rebuild, quadratically
    wasteful for a daily increment).

    Shape: the new batch collapses via one 16-byte-hash groupBy
    (min-doc_id argmin, map-side combined), then LEFT ANTI joins the
    existing corpus's distinct hashes — both sides shuffle hashes only,
    text never moves.  At 100 TB the existing-hash side is a static
    artifact in practice: persist it bucketed by hash
    (io.py::write_bucketed_table) and the anti join runs shuffle-free
    against each daily drop."""
    d = load_table(spark, sf_dir, "documents")
    existing = (
        d.filter(F.col("doc_id") % 4 != 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    new_first = (
        d.filter(F.col("doc_id") % 4 == 0)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_new_copies"),
        )
    )
    return new_first.join(existing, "content_hash", "left_anti").select(
        "doc_id", "content_hash", "n_new_copies"
    )


# Directed containment parameters: word-3-gram shingle sets, containment
# ≥ CONT_T_NUM/CONT_T_DEN, minimum shingles for the inner side, hub cap.
CONT_T_NUM, CONT_T_DEN = 4, 5
CONT_MIN_SH = 5
CONT_MAX_DF = 50


@query(
    "q_containment",
    oracle=f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
          FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id, array_to_string(ws[i:i + 2], ' ') AS s
          FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 3
        ),
        sh AS (
          SELECT * FROM sh0 WHERE s IN (
            SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {CONT_MAX_DF})
        ),
        cnt AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
        ),
        common AS (
          SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT inner_id, outer_id, n_common,
               CAST(n_common AS DOUBLE) / ca.n AS containment
        FROM common JOIN cnt ca ON ca.doc_id = inner_id
        WHERE ca.n >= {CONT_MIN_SH}
          AND n_common * {CONT_T_DEN} >= ca.n * {CONT_T_NUM}
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed shingle containment (Broder 1997's asymmetric twin
    of resemblance): flag (inner, outer) pairs where ≥4/5 of the inner
    doc's word-3-gram set appears in the outer doc — excerpt / quotation /
    clone detection, which symmetric Jaccard MISSES whenever a short doc
    is wholly contained in a much longer one (their union dilutes the
    overlap below any Jaccard threshold).  The post-dedup pass crawl
    cleaners run to catch quote farms and wrapper pages.

    Scale shape: shingles collapse to 8-byte xxhash64 keys built from
    token hashes (no gram string is ever materialized or shuffled — the
    PPJoin device, with its documented ~1e-12 collision bound vs the
    string-comparing oracle); the hub cap (df ≤ 50, derived via
    count-over-window — one shuffle, no join-back) bounds the self-join's
    candidate volume at df²·|shingles| instead of |docs|²; the inner-side
    threshold is INTEGER arithmetic (5·n_common ≥ 4·n ⟺ containment
    ≥ 4/5), so no float threshold ever compares.  containment itself is
    one int/int IEEE division — engine-bit-stable."""
    return _containment_pairs(spark, sf_dir)


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared directed-containment pair engine for q_containment and its
    source-rollup twin q_dup_flow_matrix: (inner_id, outer_id, n_common,
    containment) under the CONT_* parameters."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    # pinned keyed repartition: the tokenize + shingle-hash explode is
    # CPU-bound and a small corpus file is ONE input split (guide §2.5;
    # same device as q_jaccard_ppjoin, measured there and here)
    hashed = spread(d, "doc_id").select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("th")
    ).filter(F.size("th") >= 3)
    keys = F.transform(
        F.sequence(F.lit(1), F.size("th") - 2),
        lambda i: F.xxhash64(
            F.try_element_at("th", i),
            F.try_element_at("th", i + 1),
            F.try_element_at("th", i + 2),
        ),
    )
    sh = (
        # r12: per-doc distinct IN-ROW (array_distinct before the explode)
        # replaces the post-explode .distinct(): Catalyst had fused the
        # distinct's exchange with the window's, so the exchange count is
        # unchanged, but the two HashAggregates that deduped the exploded
        # gram stream in operator state are gone — the set they built is
        # exactly the per-doc distinct gram set, computable at scan speed
        # (the char_shingles device; plans/r12/containment_sh_subtree_*).
        hashed.select("doc_id", F.explode(F.array_distinct(keys)).alias("s"))
        .withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
        .filter(F.col("df") <= CONT_MAX_DF)
        .drop("df")
        # feeds the per-doc count AND both self-join sides — Catalyst
        # does not dedup the subtree (3 corpus scans without this)
        .localCheckpoint(eager=True)
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # Self-join pair generation, deliberately kept (r11): a join-free
    # spelling (groupBy(s) + collect_list + double explode — the hub cap
    # bounds every list at CONT_MAX_DF, so state is bounded) was
    # implemented, oracle-verified at all three SFs, and A/B-measured
    # 2-3x SLOWER isolated (0.79→1.72 s here, 0.98→3.28 s through
    # q_dup_flow_matrix): the double explode copies the doc array per
    # pair row and collect_list forces an ObjectHashAggregate, while this
    # join probes a broadcast hash table at bench scale and sort-merges
    # at cluster scale.  See OPTIMIZATION_r11.md.
    a = sh.select(F.col("doc_id").alias("inner_id"), "s")
    b = sh.select(F.col("doc_id").alias("outer_id"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("inner_id") != F.col("outer_id"))
        .groupBy("inner_id", "outer_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        common.join(cnt.withColumnRenamed("doc_id", "inner_id"), "inner_id")
        .filter(
            (F.col("n") >= CONT_MIN_SH)
            & (F.col("n_common") * CONT_T_DEN >= F.col("n") * CONT_T_NUM)
        )
        .select(
            "inner_id",
            "outer_id",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n")).alias("containment"),
        )
    )


@query(
    "q_dup_flow_matrix",
    oracle=f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
          FROM documents
        ),
        sh0 AS (
          SELECT DISTINCT doc_id, array_to_string(ws[i:i + 2], ' ') AS s
          FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 3
        ),
        sh AS (
          SELECT * FROM sh0 WHERE s IN (
            SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {CONT_MAX_DF})
        ),
        cnt AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
        ),
        common AS (
          SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT inner_id, outer_id
          FROM common JOIN cnt ca ON ca.doc_id = inner_id
          WHERE ca.n >= {CONT_MIN_SH}
            AND n_common * {CONT_T_DEN} >= ca.n * {CONT_T_NUM}
        )
        SELECT di.source AS source_inner, do_.source AS source_outer,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT inner_id) AS BIGINT) AS n_inner_docs
        FROM pairs
        JOIN documents di ON di.doc_id = inner_id
        JOIN documents do_ ON do_.doc_id = outer_id
        GROUP BY 1, 2
    """,
)
def q_dup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source duplicate-flow matrix: which sources' documents
    are contained in which other sources' documents — q_containment's
    rollup twin (VERDICT r6 item 5b).  A crawl-curation team reads this
    matrix to find mirror sites, scraper farms, and wrapper domains:
    a row (A, B, many) means source A's content keeps showing up inside
    source B's pages, so B is a copier (or aggregator) of A.

    Scale shape: all the quadratic-bounded work is the shared
    _containment_pairs engine (hub-capped shingle self-join, checkpointed
    shingle frame, integer thresholds — see q_containment); this rollup
    then joins the surviving PAIRS (already ≪ |docs|²) to the skinny
    (doc_id, source) projection twice and map-side-combines one count per
    source pair — |sources|² output rows, nothing heavier than the pair
    set ever shuffles.  n_inner_docs dedups inner docs so one heavily
    templated page can't dominate the flow reading."""
    pairs = _containment_pairs(spark, sf_dir).select("inner_id", "outer_id")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("inner_id"),
                F.col("source").alias("source_inner"),
            ),
            "inner_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("outer_id"),
                F.col("source").alias("source_outer"),
            ),
            "outer_id",
        )
        .groupBy("source_inner", "source_outer")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("inner_id").cast("bigint").alias("n_inner_docs"),
        )
    )


@query("q_dedup_incremental_minhash", oracle=None)  # hash family → rows-only
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental NEAR-dup admission — the MinHash twin of
    q_dedup_incremental (which is exact-hash): a new drop of documents
    (fixture stand-in: doc_id % 4 = 0) probes the standing corpus's LSH
    band buckets, and any new doc whose estimated Jaccard against an
    existing doc clears the threshold is flagged with its match.  This is
    the daily-ingest shape of fuzzy dedup: per-drop cost is |new| probing
    a persisted band-bucket index (see operators/dedup.py::lsh_probe_pairs
    for the bucketed-artifact layout at 100 TB), never an all-corpus
    rebuild.

    Signatures for both sides derive from ONE corpus pass (the shared
    frame is checkpointed — Catalyst does not dedup the subtree); the
    probe join moves 16-byte bucket keys plus 64-long signatures, never
    text.  Deterministic xxhash64 family but not SQL-portable → rows-only
    driver check; tests/test_sketch_quality.py gates recall/precision
    against the exact cross-batch n-gram Jaccard pairs."""
    from bifrost_spark.operators.dedup import lsh_probe_pairs

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(
        d, "text", "doc_id", num_hashes=64, winnow_mod=2, shingle="word"
    ).localCheckpoint(eager=True)
    new_sig = sig.filter(F.col("doc_id") % 4 == 0)
    idx_sig = sig.filter(F.col("doc_id") % 4 != 0)
    pairs = lsh_probe_pairs(new_sig, idx_sig, "doc_id", bands=16, rows_per_band=4)
    return pairs.filter(F.col("est_jaccard") >= JACCARD_THRESHOLD).select(
        F.col("probe_id").alias("doc_id"),
        F.col("index_id").alias("dup_of"),
        "est_jaccard",
    )


# Exact set-similarity join (prefix filtering) parameters: word 3-gram
# shingle sets, Jaccard >= PP_T_NUM/PP_T_DEN.
PP_GRAM = 3
PP_T_NUM, PP_T_DEN = 1, 2


@query(
    "q_jaccard_ppjoin",
    oracle="""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(ws[i:i + 2], ' ') AS shingle
          FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 3
        ),
        cnt AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
        ),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, n_common,
               round(CAST(n_common AS DOUBLE)
                     / (ca.n + cb.n - n_common), 9) AS jacc
        FROM common
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE n_common * 2 >= (ca.n + cb.n - n_common)
    """,
)
def q_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs discipline, Chaudhuri et al. 2006 / Xiao et al.
    2008): all document pairs whose word-{g}-gram shingle sets have
    Jaccard ≥ {t} — with NO approximation and NO quadratic pair
    enumeration.  This is the third exact-dedup spelling in the engine:
    q_dedup_ngram_jaccard prunes by capping shingle document frequency
    (exact only modulo the cap), MinHash/LSH is probabilistic; prefix
    filtering is the one that is simultaneously exact AND bounded.

    The filter: order every set by ascending global shingle frequency
    (rarest first) and keep only the first p = |S| − ceil(t·|S|) + 1
    shingles as the PREFIX; two sets with J ≥ t must share a prefix
    shingle (pigeonhole on the ≥ t·|union| common elements), so the
    candidate join runs on exploded PREFIXES — candidate volume is
    governed by rare-shingle collisions, not set sizes.  A length filter
    (t·max ≤ min) prunes further before verification; survivors verify
    with an exact array_intersect.  The ORACLE is an independent exact
    spelling — the full inverted-index join (every shared shingle joins,
    pairs counted; the naive quadratic was measured intractable past
    500 docs) — so the driver check proves prefix pruning emits exactly
    the full-index pair set.

    Determinism: membership is an all-integer comparison
    (n_common·{den} ≥ {num}·|union|) — boundary pairs classify
    identically on both engines; jacc is one int/int division rounded
    at 9 dp.

    Scale: four shuffles (doc-spread repartition, the tok-keyed df
    window, the per-doc canonical re-sort, the candidate join) + the
    id-keyed verify joins carrying each 8-byte-hash set array once.  Prefix order matters: ASCENDING df puts the
    rarest shingles in prefixes, so a boilerplate shingle shared by a
    million docs never generates candidates unless it's someone's
    rarest — the property that kills the hub-blowup the df-cap spelling
    had to bound away."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    base = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= PP_GRAM)
    # shingles travel as 8-byte multi-arg xxhash64 of the token tuple —
    # no gram string is ever built or shuffled (the q_dup_spans device;
    # identical output to the string-keyed oracle modulo 2⁻⁶⁴ collisions,
    # the family's accepted hash-identity risk).  The canonical order's
    # df tie-break differs between hash and string keys, but ANY global
    # total order satisfies the prefix pigeonhole, and verification is
    # exact on full sets — candidate sets may differ, the verified pair
    # set cannot.
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (PP_GRAM - 1)),
            lambda i: F.xxhash64(
                *[F.element_at("ws", (i + j).cast("int")) for j in range(PP_GRAM)]
            ),
        )
    )
    # Two measured plan hazards shape this derivation (17.5 → 3 s at
    # sf0.1 combined):
    # * repartition the doc-level frame before shingling — gram
    #   construction is CPU-bound string work and a small corpus file
    #   arrives as ONE input split (the whole pipeline serialized on
    #   1 of 32 cores); same parallelism-vs-layout device as
    #   q_multimodal_features' repartition(media_id).
    # * explode the gram EXPRESSION directly — materializing it as an
    #   aliased column first makes Catalyst push the Generate's implicit
    #   size(toks)>0 filter BELOW the exchange, re-evaluating the entire
    #   gram transform a second time inside the single scan task.
    # df via count-over-window instead of groupBy+join-back: ONE
    # derivation of the gram pipeline and one tok-keyed shuffle, where
    # the join spelling derived the explode twice (Catalyst does not
    # dedup shared subtrees) and shuffled twice.
    from pyspark.sql.window import Window

    tok = base.repartition(F.col("doc_id")).select(
        "doc_id", F.explode(grams).alias("tok")
    )
    wdf = Window.partitionBy("tok")
    ordered = (
        tok.withColumn("df", F.count(F.lit(1)).over(wdf))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
        .localCheckpoint(eager=True)  # prefixes + BOTH verify sides reuse it
    )

    # prefix length p = sz - ceil(t*sz) + 1 (integer ceil)
    p = (
        F.col("sz")
        - F.floor((F.lit(PP_T_NUM) * F.col("sz") + PP_T_DEN - 1) / PP_T_DEN)
        + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc_id", "sz", F.explode(F.slice("toks", 1, p)).alias("tok")
    )
    a = prefixes.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"), "tok"
    )
    b = prefixes.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"), "tok"
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        .filter(
            F.least("sa", "sb") * PP_T_DEN
            >= PP_T_NUM * F.greatest("sa", "sb")
        )
        .select("id_a", "id_b")
        # pinned pair-keyed repartition, then dedup IN that partitioning
        # (one exchange — dropDuplicates reuses it): the verify stage's
        # array_intersect CPU runs over these partitions, and AQE would
        # otherwise coalesce the few-MB pair shuffle down to 1-2 tasks
        # and serialize verification (measured 2.0 → 0.4 s at sf0.1).
        # Pairs are the "small rows" of guide §8 — spreading them is
        # cheap at any scale; the array side rides in via broadcast
        # below the 64 MB threshold, shuffle-join above it.
        .transform(lambda p: spread(p, "id_a", "id_b"))
        .dropDuplicates()
    )
    va = ordered.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    vb = ordered.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("n_common"),
            F.size("ta").alias("sa"),
            F.size("tb").alias("sb"),
        )
        .filter(
            F.col("n_common") * PP_T_DEN
            >= PP_T_NUM * (F.col("sa") + F.col("sb") - F.col("n_common"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("n_common")),
            9,
        ).alias("jacc"),
    )


# ---------------------------------------------------------------------------
# q_dup_span_ladder — length-doubling duplicate-span resolution
# ---------------------------------------------------------------------------

# Length-doubling gram ladder: a doc whose longest cross-document
# duplicated substring is s tokens long hits every level <= s and no
# level > s, so max_dup_len brackets the true longest span within a
# factor of 2 — the cheap spelling of the suffix-array longest-match
# statistic in Lee et al. 2022 (their Fig. 4 length distribution).
_LADDER_LEVELS = (8, 16, 32, 64)


@query(
    "q_dup_span_ladder",
    oracle=f"""
        WITH ws AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS w
          FROM documents WHERE text IS NOT NULL
        ),
        lv AS (SELECT unnest([{", ".join(str(x) for x in _LADDER_LEVELS)}])
                 AS l),
        g AS (
          SELECT ws.doc_id, lv.l,
                 unnest(list_transform(
                   range(1, len(w) - lv.l + 2),
                   i -> array_to_string(w[i:i + lv.l - 1], ' '))) AS gm
          FROM ws, lv WHERE len(w) >= lv.l
        ),
        dup AS (
          SELECT l, gm FROM g GROUP BY l, gm
          HAVING COUNT(DISTINCT doc_id) > 1
        ),
        hits AS (
          SELECT DISTINCT g.doc_id, g.l FROM g JOIN dup USING (l, gm)
        )
        SELECT d.doc_id,
               CAST(COALESCE(MAX(h.l), 0) AS BIGINT) AS max_dup_len,
               CAST(COUNT(DISTINCT h.l) AS BIGINT) AS n_levels_hit
        FROM ws d LEFT JOIN hits h ON h.doc_id = d.doc_id
        GROUP BY d.doc_id
    """,
)
def q_dup_span_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-doubling duplicate-span ladder (VERDICT r7 item 4a): for
    gram lengths 8/16/32/64 tokens, does each document share a gram of
    that length with ANY other document?  max_dup_len brackets the
    longest cross-document duplicated substring within a factor of 2 —
    the resolution upgrade over q_dup_spans' fixed 8-gram hits, and the
    distributed stand-in for the suffix-array longest-match statistic of
    Lee et al. 2022 (suffix arrays don't shard; a gram ladder is four
    hash aggregates).

    Scale shape: gram construction is scan-local (one scan builds ALL
    levels' grams — each level hashes a SLICE of the already-split word
    array, ~4x the token count in 16-byte (level, hash) rows, text never
    moves); one (level, gh) aggregate finds cross-doc grams; a semi join
    brings (doc, level) hits back and one per-doc aggregate folds the
    ladder.  Same hash-only shuffle discipline as q_dup_spans.

    Determinism: levels hit are exact set membership; the engine grams
    by xxhash64 over the token-array slice while the oracle grams by the
    joined string — identical spans modulo 2^-64 hash collisions, the
    q_dup_spans accepted risk (llm_dedup.py:q_dup_spans documents the
    device)."""
    from bifrost_spark.operators.dedup import token_gram_hashes, word_array

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # _util.spread: all four rungs' gram hashing happens in one explode
    # over the single input split without it (guide §2.5)
    base = spread(d, "doc_id").select("doc_id", word_array().alias("ws"))

    def _level_grams(lvl):
        # each level's grams come from the SHARED token_gram_hashes
        # builder (one spelling with q_dup_spans and q_ngram_novelty —
        # VERDICT r8 item 4), relabeled (pos → lvl) per rung.  The
        # builder already guards short documents with an empty array.
        # Closure, NOT a default-arg lambda: PySpark reads a second
        # lambda parameter as the (element, index) two-arg form and
        # would bind it to the array INDEX.
        def relabel(s):
            return F.struct(
                F.lit(lvl).cast("int").alias("lvl"), s["gh"].alias("gh")
            )

        # r12 note: per-level array_distinct (the q_dup_span_exact ladder
        # device) was tried and REVERTED — measured on the fixture, levels
        # 8-64 have ZERO within-doc repeated grams (596,230 rows with and
        # without), so the in-row set build is pure cost here; the exact
        # query keeps it because its levels 1-7 DO repeat (~35% fewer rows).
        return F.transform(token_gram_hashes("ws", lvl), relabel)

    per_level = [_level_grams(lvl) for lvl in _LADDER_LEVELS]
    grams = base.select(
        "doc_id", F.explode(F.concat(*per_level)).alias("g")
    ).select("doc_id", F.col("g.lvl").alias("lvl"), F.col("g.gh").alias("gh"))
    # feeds the dup build AND the semi-join probe — one materialization,
    # one documents scan (the q_dup_spans checkpoint discipline)
    grams = grams.localCheckpoint(eager=True)
    # min != max ⟺ >1 distinct doc — single-phase aggregate, no
    # distinct expand (see q_dup_spans)
    dup = (
        grams.groupBy("lvl", "gh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("lvl", "gh")
    )
    hits = (
        grams.join(dup, ["lvl", "gh"], "leftsemi")
        .select("doc_id", "lvl")
        .distinct()
    )
    return (
        base.select("doc_id")
        .join(hits, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.max("lvl"), F.lit(0)).cast("bigint").alias("max_dup_len"),
            F.count_distinct("lvl").cast("bigint").alias("n_levels_hit"),
        )
    )


# ---------------------------------------------------------------------------
# q_dup_span_exact — EXACT maximal cross-document duplicated span
# ---------------------------------------------------------------------------

_SPAN_K = 8  # anchor gram length (the q_dup_spans base)


@query(
    "q_dup_span_exact",
    oracle=f"""
        WITH ws AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS w
          FROM documents WHERE text IS NOT NULL
        ),
        a8 AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(w[CAST(i AS INT):CAST(i AS INT) + {_SPAN_K - 1}],
                                 ' ') AS gm
          FROM ws, UNNEST(range(1, len(w) - {_SPAN_K} + 2)) AS t(i)
          WHERE len(w) >= {_SPAN_K}
        ),
        pr AS (
          SELECT x.doc_id AS da, y.doc_id AS db,
                 x.pos - y.pos AS diag, x.pos AS pa
          FROM a8 x JOIN a8 y ON y.gm = x.gm AND x.doc_id < y.doc_id
        ),
        runs AS (
          SELECT da, db, diag, grp, CAST(COUNT(*) AS BIGINT) AS m
          FROM (
            SELECT da, db, diag, pa,
                   pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag
                                           ORDER BY pa) AS grp
            FROM (SELECT DISTINCT da, db, diag, pa FROM pr)
          ) GROUP BY da, db, diag, grp
        ),
        s8 AS (
          SELECT doc_id, MAX(m) + {_SPAN_K - 1} AS s
          FROM (
            SELECT da AS doc_id, m FROM runs
            UNION ALL SELECT db AS doc_id, m FROM runs
          ) GROUP BY doc_id
        ),
        lv AS (SELECT unnest([{", ".join(str(x) for x in range(1, _SPAN_K))}])
                 AS l),
        gsm AS (
          SELECT ws.doc_id, lv.l,
                 unnest(list_transform(
                   range(1, len(w) - lv.l + 2),
                   i -> array_to_string(w[CAST(i AS INT):CAST(i AS INT) + lv.l - 1],
                                        ' '))) AS gm
          FROM ws, lv WHERE len(w) >= lv.l
        ),
        dup_sm AS (
          SELECT l, gm FROM gsm GROUP BY l, gm
          HAVING COUNT(DISTINCT doc_id) > 1
        ),
        sm AS (
          SELECT g.doc_id, CAST(MAX(g.l) AS BIGINT) AS s
          FROM gsm g JOIN dup_sm USING (l, gm)
          GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               GREATEST(COALESCE(s8.s, 0), COALESCE(sm.s, 0)) AS max_dup_span
        FROM ws d
        LEFT JOIN s8 ON s8.doc_id = d.doc_id
        LEFT JOIN sm ON sm.doc_id = d.doc_id
    """,
)
def q_dup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximal cross-document duplicated token-span length per
    document (VERDICT r9 item 3) — the exact answer q_dup_span_ladder
    brackets within 2×, without a suffix array and without a
    length-search loop, via the ANCHOR-DIAGONAL-RUN identity: any common
    token substring of length L ≥ k contains exactly L−k+1 consecutive
    k-gram anchor matches on ONE alignment diagonal (pos_a − pos_b), so
    the longest common span between two documents is
    (longest consecutive anchor run on any diagonal) + k − 1.  Runs are
    gaps-and-islands (pos − row_number per (docA, docB, diagonal)); one
    pass, fully distributed, exact.  Spans shorter than k (documents
    sharing only common words/phrases) come from a 1..k−1 gram ladder —
    exact there by direct membership.  Together: the Lee et al. 2022
    longest-duplicate statistic, Spark-first.

    Scale shape: anchors are (doc, pos, 8-byte hash) rows — text never
    moves; the anchor equi-join fans out per shared gram like
    q_dup_spans (boilerplate-heavy corpora should pre-drop ultra-common
    grams — same posture as the dedup family, SCALE.md); the run window
    partitions by (docA, docB, diagonal) — real keys, no global sort;
    the small-gram ladder is ≤ 7 scan-local gram levels.

    Determinism: everything is exact integer positions and counts; the
    engine anchors on xxhash64 token-slice hashes while the oracle joins
    the gram STRINGS — identical spans modulo 2^-64 collisions (the
    q_dup_spans accepted risk).  Documents with no cross-doc overlap at
    all report 0."""
    from bifrost_spark.operators.dedup import token_gram_hashes, word_array

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # One tokenization pass, spread across cores BEFORE the gram builds: a
    # small corpus file is ONE input split, so without the repartition the
    # anchor hash explode AND the 7-level ladder both serialize on a single
    # task (q_jaccard_ppjoin's measured hazard; guide §2.5).  The checkpoint
    # makes the token arrays the shared input of all three consumers
    # (anchors, ladder, final doc list) instead of three text scans.
    base = spread(
        d.select("doc_id", word_array().alias("ws")), "doc_id"
    ).localCheckpoint(eager=True)
    anchors = (
        base.select(
            "doc_id", F.explode(token_gram_hashes("ws", _SPAN_K)).alias("g")
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
        .localCheckpoint(eager=True)  # joined to itself below
    )
    a = anchors.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gh"
    )
    b = anchors.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gh"
    )
    # no .distinct(): (da, pa) carries exactly ONE anchor hash and anchor
    # positions are unique per doc, so join rows are already unique on
    # (da, db, diag, pa) — the oracle's SELECT DISTINCT dedups its
    # string-keyed spelling, ours is structurally duplicate-free (pinned by
    # tests/test_round10_models.py's DP cross-check and the uniqueness
    # regression there); dropping it removes a full exchange of the
    # fanned-out candidate stream on a key the run window can't reuse.
    pr = (
        a.join(b, "gh")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", (F.col("pa") - F.col("pb")).alias("diag"), "pa")
    )
    wrun = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (
        pr.withColumn("grp", F.col("pa") - F.row_number().over(wrun))
        .groupBy("da", "db", "diag", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    s8 = (
        runs.select(
            F.explode(F.array(F.col("da"), F.col("db"))).alias("doc_id"),
            F.col("m"),
        )
        .groupBy("doc_id")
        .agg((F.max("m") + F.lit(_SPAN_K - 1)).cast("bigint").alias("s8"))
    )

    def _small_grams(lvl):
        def relabel(s):
            return F.struct(
                F.lit(lvl).cast("int").alias("lvl"), s["gh"].alias("gh")
            )

        # array_distinct: within-doc repeated grams change neither the
        # shared-gram set nor the per-doc max level, and level 1 (plain
        # tokens) repeats heavily — ~35% fewer ladder rows materialized
        return F.array_distinct(
            F.transform(token_gram_hashes("ws", lvl), relabel)
        )

    gsm = (
        base.select(
            "doc_id",
            F.explode(
                F.concat(*[_small_grams(lvl) for lvl in range(1, _SPAN_K)])
            ).alias("g"),
        )
        .select("doc_id", F.col("g.lvl").alias("lvl"), F.col("g.gh").alias("gh"))
        .localCheckpoint(eager=True)  # dup build + probe, one scan
    )
    # min != max ⟺ >1 distinct doc — single-phase aggregate, no
    # distinct expand (see q_dup_spans)
    dup_sm = (
        gsm.groupBy("lvl", "gh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("lvl", "gh")
    )
    sm = (
        gsm.join(dup_sm, ["lvl", "gh"], "leftsemi")
        .groupBy("doc_id")
        .agg(F.max("lvl").cast("bigint").alias("sm"))
    )
    return (
        base.select("doc_id")
        .join(s8, "doc_id", "left")
        .join(sm, "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(
                F.coalesce("s8", F.lit(0)), F.coalesce("sm", F.lit(0))
            )
            .cast("bigint")
            .alias("max_dup_span"),
        )
    )
