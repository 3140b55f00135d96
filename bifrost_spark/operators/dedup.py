"""Distributed near-duplicate detection operators.

All operators here are compositions of DataFrame built-ins — no Python UDFs —
so they run JVM-side at every scale.  Shapes:

* char-shingling: explode k-grams (scan-side, pipelined into the shuffle)
* exact n-gram Jaccard: shingle-join on distinct shingles (the exact but
  shuffle-heavy baseline; |pairs| bounded by shared-shingle co-occurrence)
* MinHash: per-doc signature via ``min(xxhash64(seed, shingle))`` per seed —
  a deterministic hash family, unlike MLlib's RNG-drawn coefficients — then
  LSH banding so only docs sharing a band bucket are compared (the 100 TB
  path: candidate generation is |near-dups|, not |pairs|)
* SimHash: 64-bit sign-aggregated token-hash fingerprint; hamming distance
  via bit_count(xor) — constant-size state per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.operators.partitioning import spread as _spread


def char_shingle_array(text_col: str, k: int = 10) -> Column:
    """Distinct character k-grams of a text column as ``array<string>``.

    Sliding substrings built with sequence+transform — pure per-row JVM
    expression, no shuffle.
    """
    n = F.length(text_col)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: F.col(text_col).substr(i, F.lit(k)))
    return F.array_distinct(grams)


def word_array(text_col: str = "text") -> Column:
    """The house word tokenization for token-gram operators: split on
    single spaces, drop empty tokens, case PRESERVED (the q_dup_spans
    spelling — dedup wants byte-level fidelity, unlike the lowercased
    bag-of-words text statistics)."""
    return F.filter(F.split(F.col(text_col), " ", -1), lambda t: t != "")


def token_gram_hashes(ws, k: int) -> Column:
    """``array<struct<pos: bigint, gh: bigint>>`` of xxhash64-hashed
    k-token grams of a word-array column — the SHARED gram builder
    behind q_dup_spans, q_dup_span_ladder, and q_ngram_novelty (one
    spelling; VERDICT r8 item 4).

    gh hashes the token-array SLICE (multi-token tuple, no separator
    ambiguity, no gram string ever materialized — 8 bytes through every
    downstream shuffle); pos is the 1-based start position in the
    filtered word sequence.  Documents shorter than k tokens yield an
    empty array (exact size guard), so callers need no length filter.
    Downstream equality is modulo 2^-64 hash collisions — the
    q_dup_spans accepted risk, identical across all consumers.
    """
    ws = F.col(ws) if isinstance(ws, str) else ws

    def g(i):
        return F.struct(
            i.cast("bigint").alias("pos"),
            F.xxhash64(F.slice(ws, i, F.lit(k))).alias("gh"),
        )

    return F.when(
        F.size(ws) >= k,
        F.transform(F.sequence(F.lit(1), F.size(ws) - k + 1), g),
    ).otherwise(F.array().cast("array<struct<pos: bigint, gh: bigint>>"))


def char_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 10) -> DataFrame:
    """Distinct character k-grams per document: (id, shingle).

    Distinct is applied per doc before the explode so join fan-out is
    bounded.  The input is spread across cores first (pinned keyed
    repartition, the ``contamination_hits`` device — guide §2.5): the
    per-position substr + array_distinct set-build is the dominant CPU of
    every consumer, and a small corpus file is ONE input split, so without
    the exchange the whole shingle derivation serializes on a single task.
    The shuffle moves only the narrow (id, text) rows once, pre-explosion
    (and is skipped entirely when the input is already parallel — the r12
    partition-count gate in operators/partitioning.py).
    """
    df = _spread(df, id_col)
    return df.select(
        F.col(id_col),
        F.explode(char_shingle_array(text_col, k)).alias("shingle"),
    )


def exact_jaccard_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b.  jaccard is a single
    bigint/bigint double division → deterministic across engines.

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents BEFORE the self-join (standard hub/boilerplate removal).
    Without it, one high-df shingle makes the candidate set quadratic in
    its df — a template shingle in 75% of docs at sf0.1 alone contributed
    ~1.4e7 of the 2.6e8 candidate pairs and forced a 16 GB driver.  Jaccard
    is then measured over the capped shingle sets; measured on the fixtures
    (sf0.01 AND sf0.1) the resulting ≥0.5 pair set is IDENTICAL to the
    uncapped one — hub-only overlap never reaches near-dup thresholds.
    Pass ``None`` for the unbounded exact measure.
    """
    # Shingles collapse to 8-byte xxhash64 keys up front: every downstream
    # shuffle (df count, self-join, pair groupBy) and the checkpoint carry
    # longs, never k-char strings — the same discipline as the PPJoin
    # spelling (whose DuckDB oracle is likewise string-equality: a 64-bit
    # collision inside one candidate pair is ~1e-12 at these densities,
    # accepted there and here).  Set-distinctness per doc is unchanged
    # modulo that collision bound.  NULL shingles (a NULL-text document
    # grams to [NULL]) are dropped FIRST: a NULL string key never matches
    # an equi-join, but xxhash64(NULL) is the non-NULL seed 42, which made
    # two NULL-text docs a phantom pair (fuzzer finding).
    shingled = shingled.filter(F.col("shingle").isNotNull()).select(
        id_col, F.xxhash64("shingle").alias("shingle")
    )
    if max_shingle_df is not None:
        # df via count-over-window, not groupBy+join-back: ONE shuffle of
        # the shingle stream instead of an aggregate pass plus a join-back
        # of the full stream against it (the PPJoin spelling's discipline;
        # measured 7.9 → 4.0 s for the capped frame at sf0.1, same rows)
        wdf = Window.partitionBy("shingle")
        shingled = (
            shingled.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # The (possibly df-capped) shingle frame feeds FOUR consumers — both
    # self-join sides plus the per-doc counts referenced as ca AND cb —
    # and Catalyst never reuses duplicate subtrees, so without a
    # checkpoint each consumer re-runs the scan + gram explode (+ the df
    # filter's own derivation): 8 parquet scans measured, 12→5 s at
    # sf0.1.  One materialization, four readers.
    shingled = shingled.localCheckpoint(eager=True)
    counts = shingled.groupBy(id_col).agg(
        F.count("*").alias("n_sh")
    ).localCheckpoint(eager=True)  # read twice (ca, cb) below
    a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 10, num_hashes: int = 64,
    winnow_mod: int = 4, shingle: str = "char", word_ngram: int = 3,
    spread_input: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature: column ``signature array<bigint>``.

    Shingling (``shingle=``):
      * ``"char"`` — character ``k``-grams: one substr+string-hash per text
        position.
      * ``"word"`` — word ``word_ngram``-grams: each whitespace token is
        string-hashed ONCE (materialized as a named column so the
        higher-order transform doesn't re-evaluate it — Spark does no CSE
        inside lambda trees), then each shingle hashes ``word_ngram``
        LONGS.  ~6× fewer positions and far cheaper per position on prose
        (the standard choice in LLM dedup pipelines), measured 2.3×
        end-to-end at sf0.1 with identical pair output on the fixtures.

    The base hashes are exploded and one partial-aggregated groupBy takes
    ``min(xxhash64(seed_i, base))`` per seed — the num_hashes family
    members hash 8-byte longs, not strings, and map-side combine means the
    shuffle carries num_hashes longs per doc regardless of doc size.

    Content-free documents (NULL/empty/whitespace-only text) receive NO
    signature row — they have no fuzzy identity, and the degenerate
    constant gram they'd otherwise hash to would make all of them mutual
    est_jaccard-1.0 "near-dups" (see the in-line comment below).

    ``winnow_mod`` keeps only shingles whose base hash ≡ 0 (mod m) — a
    deterministic 1/m min-wise sample of each shingle set.  Jaccard of the
    samples is an unbiased estimate of Jaccard of the full sets (the sample
    membership rule is shared by both docs), so signature quality degrades
    only in variance, while family hashing, aggregation, and the explode
    volume all shrink by m.  A document whose every shingle is winnowed
    away falls back to its UNWINNOWED shingle set (degraded-variance
    signature) instead of silently dropping out of dedup.  Quality gates in
    tests/test_sketch_quality.py.

    Unlike the exact-Jaccard path, shingles are NOT deduplicated first:
    min over a multiset equals min over its set, so ``array_distinct``
    (string set-building, the priciest part of shingling) is pure waste
    here.  The winnow filter also runs array-side, before the explode.
    """
    # Spread the signature derivation across cores before computing it
    # (pinned keyed repartition, the contamination_hits device — guide
    # §2.5): gram hashing + the 64 min-hash aggregates are the dominant
    # CPU, and a small corpus file is ONE input split.  The groupBy below
    # re-keys on the same id, so the partial aggregation still combines
    # map-side and the second exchange carries num_hashes longs per doc.
    # ``spread_input=False`` lets per-micro-batch streaming probes skip
    # the exchange (ADVICE r11); the r12 gate also skips it whenever the
    # input is already parallel.
    if spread_input:
        df = _spread(df, id_col)
    # Docs with NO content (NULL text, empty text, whitespace-only) have no
    # fuzzy identity and are EXCLUDED from signatures entirely.  Without
    # this, every such doc grams to the same degenerate shingle
    # (substr('')='' / xxhash64(NULL,…) is a constant), all of them share
    # one signature, and the LSH join flags content-free docs as mutual
    # near-dups at est_jaccard = 1.0 — the round-5 "xxhash64(NULL) phantom
    # pair" class, re-found by review in the incremental admission flows.
    # Exact dedup upstream owns byte-identical empties.
    if shingle == "char":
        # trimmed length: an ALL-SPACE doc of length >= k would otherwise
        # collapse to one constant k-space gram and phantom-pair with every
        # other all-space doc (ADVICE r6) — the same exclusion word mode
        # gets from its empty-token filter
        df = df.filter(F.length(F.trim(F.col(text_col))) > 0)
        n = F.length(text_col)
        starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        gram_hashes = F.transform(
            starts, lambda i: F.xxhash64(F.col(text_col).substr(i, F.lit(k)))
        )
        base_df = df.select(F.col(id_col), gram_hashes.alias("_grams"))
    elif shingle == "word":
        toks = F.filter(F.split(F.col(text_col), " ", -1), lambda t: t != "")
        hashed = df.select(
            F.col(id_col), F.transform(toks, lambda t: F.xxhash64(t)).alias("_th")
        ).filter(F.size("_th") > 0)
        n = F.size(F.col("_th"))
        starts = F.sequence(F.lit(1), F.greatest(n - (word_ngram - 1), F.lit(1)))
        # try_element_at: docs shorter than word_ngram still get one
        # (null-padded) shingle instead of an ANSI out-of-bounds error
        grams = F.transform(
            starts,
            lambda i: F.xxhash64(
                *[F.try_element_at(F.col("_th"), i + j) for j in range(word_ngram)]
            ),
        )
        base_df = hashed.select(F.col(id_col), grams.alias("_grams"))
    else:
        raise ValueError(f"unknown shingle mode {shingle!r}")

    gram_hashes = F.col("_grams")
    if winnow_mod > 1:
        winnowed = F.filter(gram_hashes, lambda b: F.pmod(b, F.lit(winnow_mod)) == 0)
        gram_hashes = F.when(F.size(winnowed) > 0, winnowed).otherwise(gram_hashes)
    bases = base_df.select(F.col(id_col), F.explode(gram_hashes).alias("base"))
    # r12: the num_hashes min-aggregates and the signature array are built
    # as SQL strings (one parse each) — the Column-API spelling cost ~500
    # py4j round-trips per kernel call, pure driver-side build latency.
    # Integer seed literals parse to the same IntegerType as F.lit(i), so
    # the xxhash64 family is bit-identical.
    mins = [
        F.expr(f"min(xxhash64({i}, base)) AS h{i}")
        for i in range(num_hashes)
    ]
    sig = bases.groupBy(id_col).agg(*mins)
    arr = "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"
    return sig.select(F.col(id_col), F.expr(arr).alias("signature"))


# Canonical MinHash/LSH family parameters — the single source every batch
# and streaming consumer imports, so batch/stream parity can't drift on a
# one-sided retune (review finding).  64 hashes × (16 bands of 4 rows)
# targets the Jaccard-0.5 S-curve knee.
MINHASH_HASHES = 64
LSH_BANDS = 16
LSH_ROWS_PER_BAND = 4


def est_jaccard_col(sig_a: str, sig_b: str) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing signature slots.

    The denominator is ``size(sig_a)`` — derived from the signature array
    itself rather than passed as ``bands * rows_per_band``, so a caller
    whose banding parameters don't multiply out to the signature length
    cannot silently skew the estimate (ADVICE r6): zip_with spans the full
    signature either way, and the match fraction over ALL slots is the
    estimator regardless of how many slots the banding consumed."""
    matches = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return matches.cast("double") / F.size(sig_a)


def explode_band_buckets(
    signatures: DataFrame,
    id_col: str,
    out_id: str,
    out_sig: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(out_id, out_sig, band, bucket) — one row per (doc, band)."""
    return signatures.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(_band_bucket_array(bands, rows_per_band)).alias("bb"),
    ).select(
        F.col(id_col).alias(out_id),
        F.col("signature").alias(out_sig),
        "bb.band",
        "bb.bucket",
    )


def _band_bucket_array(bands: int, rows_per_band: int) -> Column:
    """One (band, bucket) struct per LSH band over the ``signature`` column:
    bucket = xxhash64(band_id, the band's signature slice), as ONE parsed
    expression."""
    structs = []
    for b in range(bands):
        band = ", ".join(
            f"signature[{b * rows_per_band + r}]" for r in range(rows_per_band)
        )
        structs.append(f"named_struct('band', {b}, 'bucket', xxhash64({b}, {band}))")
    return F.expr("array(" + ",".join(structs) + ")")


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of ≥1 band become candidates.

    Bucket key = xxhash64(band_id, band slice) → explode → self-join on
    (band, bucket).  At scale the join is on bucket ids (16 bytes), and
    candidate volume tracks true near-dup volume, not |docs|².
    """
    band_cols = _band_bucket_array(bands, rows_per_band)
    # The signature frame feeds BOTH self-join sides, and Catalyst neither
    # dedups the subtrees nor reuses the exchange (differing output aliases
    # defeat ReuseExchange here — 2 corpus scans measured): without a
    # checkpoint the full signature derivation (scan + shingle + 64
    # minhashes) runs twice.  One row of 64 longs per doc — cheap to
    # materialize, expensive to recompute at scale.
    signatures = signatures.localCheckpoint(eager=True)
    exploded = signatures.select(
        F.col(id_col), F.col("signature"), F.explode(band_cols).alias("bb")
    ).select(id_col, "signature", "bb.band", "bb.bucket")
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"), "band", "bucket"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"), "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select(
        "id_a",
        "id_b",
        est_jaccard_col("sig_a", "sig_b").alias("est_jaccard"),
    )


def lsh_probe_pairs(
    probe_sig: DataFrame,
    index_sig: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Asymmetric LSH banding: PROBE docs against an existing INDEX.

    The incremental twin of :func:`lsh_candidate_pairs` — a new batch's
    signatures join the standing corpus's band buckets instead of
    self-joining, so the per-drop cost is |new|·bands bucket rows probing
    the index, never a rebuild over |corpus|.  At 100 TB the index side's
    exploded (band, bucket, signature) table is the persistent artifact:
    write it bucketed by (band, bucket) (io.py::write_bucketed_table) and
    each daily drop joins shuffle-free on the bucket key.

    Both inputs must already be materialized/checkpointed by the caller if
    they share an upstream subtree (Catalyst does not dedup it).  Returns
    one row per (probe_id, index_id) candidate pair with the estimated
    Jaccard; the caller thresholds.
    """
    p = explode_band_buckets(probe_sig, id_col, "probe_id", "sig_p", bands, rows_per_band)
    ix = explode_band_buckets(index_sig, id_col, "index_id", "sig_i", bands, rows_per_band)
    pairs = (
        p.join(ix, ["band", "bucket"])
        .select("probe_id", "index_id", "sig_p", "sig_i")
        .dropDuplicates(["probe_id", "index_id"])
    )
    return pairs.select(
        "probe_id",
        "index_id",
        est_jaccard_col("sig_p", "sig_i").alias("est_jaccard"),
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs → (id, component) with
    component = min id in the component.

    Iterative min-label propagation: every vertex starts as its own label;
    each round pulls the minimum label across neighbors; converged when no
    label changes.  Rounds needed = component diameter — near-dup clusters
    are small and dense, so this converges in 2-4 rounds in practice (the
    driver loop runs one count() per round, which is how iterative
    algorithms look on Spark; each round is a self-contained shuffle-join
    stage over |edges|).  Results are cached per round and the lineage cut
    with localCheckpoint so the plan doesn't grow unboundedly.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .cache()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    edges.unpersist()
    return labels


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: column ``simhash bigint``.

    Per token: h = xxhash64(token); per bit j: +1 if set else −1; fingerprint
    bit j = sign of the sum.  Expressed as 64 conditional-sum aggregates —
    map-side combinable, constant state.  Bits 0..62 are packed (bit 63 left
    clear to stay positive in a signed bigint).
    """
    # Tokens are hashed ONCE, in-row, and only the 8-byte hash explodes:
    # the 63 bit-sum aggregates below all reference the same materialized
    # h column.  (The 63-buffer aggregate exceeds the codegen field limit
    # and runs interpreted, where nothing CSEs a repeated xxhash64(tok) —
    # spelled per-sum it computed 63 hashes per token, measured ~5 s of
    # pure hashing at sf0.1.)  The explode expression stays directly under
    # Generate so no filter pushdown can re-derive the token array.
    h_arr = F.transform(
        F.filter(F.split(F.lower(text_col), " ", -1), lambda x: x != ""),
        lambda x: F.xxhash64(x),
    )
    # Spread the token-hash explode + 63-way bit-sum aggregation across
    # cores (pinned keyed repartition, guide §2.5): the interpreted
    # 63-buffer aggregate is the dominant CPU and a small corpus file is
    # ONE input split.  groupBy(id) below re-keys on the same column, so
    # partials still combine map-side.
    df = _spread(df, id_col)
    tok = df.select(F.col(id_col), F.explode(h_arr).alias("h"))
    # The 63 bit-sums and the pack are ONE parsed aggregate expression (the
    # minhash_signatures device): spelled through the Column API they cost
    # ~9.6k py4j round-trips of plan construction per call.
    packed = " + ".join(
        f"CASE WHEN sum(CASE WHEN shiftright(h, {j}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN shiftleft(1L, {j}) ELSE 0L END"
        for j in range(63)
    )
    return tok.groupBy(id_col).agg(F.expr(packed).alias("simhash"))


def simhash_near_pairs(sim: DataFrame, id_col: str, max_hamming: int = 7) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation blocks on 8-bit chunks (8 chunks): by pigeonhole,
    any pair with hamming ≤ 7 differs in at most 7 of the 8 chunks, so it
    agrees on ≥1 chunk and is ALWAYS generated — recall is complete for
    ``max_hamming ≤ 7``.  Asking for ``max_hamming > 7`` raises: a pair
    with 8+ differing bits spread one-per-chunk would be silently missed,
    and a silent recall hole is worse than an explicit bound (use more,
    smaller chunks if a larger radius is ever needed).  The self-join is on
    chunk values, not all-pairs.
    """
    n_chunks, chunk_bits = 8, 8
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the guaranteed-recall bound "
            f"{n_chunks - 1} of {n_chunks}-chunk blocking"
        )
    chunks = F.expr(
        "array("
        + ",".join(
            f"named_struct('chunk_id', {c}, 'chunk',"
            f" shiftright(simhash, {c * chunk_bits}) & {(1 << chunk_bits) - 1})"
            for c in range(n_chunks)
        )
        + ")"
    )
    # Same two-consumer shape as lsh_candidate_pairs: both self-join sides
    # would re-derive the fingerprint (scan + token hash aggregation)
    # without the checkpoint — 8 bytes per doc to materialize instead.
    sim = sim.localCheckpoint(eager=True)
    ex = sim.select(F.col(id_col), "simhash", F.explode(chunks).alias("cc")).select(
        id_col, "simhash", "cc.chunk_id", "cc.chunk"
    )
    a = ex.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_id", "chunk")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_id", "chunk")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
    # The hamming gate runs BEFORE dropDuplicates: candidate volume on
    # prose corpora is near-quadratic (simhash bits are correlated across
    # documents sharing common tokens, so 8-bit chunk values cluster —
    # measured 7.1M candidate pairs from 5k docs at sf0.1), but the
    # bit_count filter is a cheap map-side expression that kills ~99% of
    # them, so the dedup shuffle sees only true near-dup pairs (×≤8 chunk
    # copies) instead of the full candidate stream.  Same result set:
    # hamming is a pure per-pair function, identical on every duplicate.
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def contamination_hits(docs: DataFrame, bench_doc_max: int, k: int = 10) -> DataFrame:
    """``(doc_id, hit=1)`` — every training document (doc_id >=
    bench_doc_max) sharing ANY lowercased character k-gram with the
    benchmark slice (doc_id < bench_doc_max): the SHARED directional
    contamination kernel behind q_decontaminate, q_contamination_report,
    and q_contamination_drift (one spelling, VERDICT r9 item 6 — promoted
    at the third consumer alongside ``token_gram_hashes``).

    lower() is applied to each k-char GRAM, not to the whole text inside
    the lambda: a per-row expression referenced in a lambda body re-runs
    per ELEMENT, so lower(text).substr(i, k) would lowercase the entire
    document once per gram — O(len²) per doc (measured 5.3 s → 1.4 s at
    sf0.1 on q_decontaminate).  ``contamination_hits_sql`` spells the
    oracle identically, so both engines gram the raw text and lowercase
    the same k characters.

    Scale shape: benchmark grams are a SMALL distinct set (benchmarks are
    tiny relative to corpora) → broadcast semi join against the training
    side's gram stream; the gram explosion streams through the scan and
    only doc_ids survive.
    """
    n = F.length("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.lower(F.col("text").substr(i, F.lit(k))),
    )
    # Spread the char-gram explode across cores before computing it: a
    # small corpus file is ONE input split, so both the bench-gram build
    # and the training-side probe would serialize on a single task
    # (guide §2.5; the q_jaccard_ppjoin hazard).  The shuffle moves only
    # (doc_id, text) rows once; the doc_id filters on both consumers still
    # push below the exchange.  Pinned count: AQE would coalesce the
    # few-MB local shuffle back to one partition.
    g = _spread(docs, "doc_id").select("doc_id", F.explode(grams).alias("g"))
    bench = F.broadcast(
        g.filter(F.col("doc_id") < bench_doc_max).select("g").distinct()
    )
    return (
        g.filter(F.col("doc_id") >= bench_doc_max)
        .join(bench, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def contamination_hits_sql(bench_doc_max: int, k: int = 10) -> str:
    """The DuckDB CTE prefix mirroring ``contamination_hits`` — callers
    embed it as ``WITH {contamination_hits_sql(B)}, ...`` and join
    ``hits`` on doc_id."""
    return f"""grams AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, GREATEST(LENGTH(text) - {k} + 2, 2)),
                   i -> lower(substr(text, CAST(i AS INT), {k})))) AS g
          FROM documents
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {bench_doc_max}),
        hits AS (
          SELECT DISTINCT t.doc_id
          FROM grams t JOIN bench b ON b.g = t.g
          WHERE t.doc_id >= {bench_doc_max}
        )"""
