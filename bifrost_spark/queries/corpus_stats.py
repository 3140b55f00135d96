"""Round-9 tokenizer-training / corpus-composition statistics family.

The corpus-level readouts a tokenizer-training and data-audit pipeline
runs before (and after) building an LLM dataset:

* **q_bpe_merges** — the first Byte-Pair-Encoding merge iteration
  (Sennrich et al. 2016): adjacent symbol-pair frequencies over the
  word-frequency table (characters + an end-of-word marker), top merge
  candidates — tokenizer training's step one, exactly;
* **q_ngram_novelty** — the n-gram novelty fraction of a candidate set
  against the standing corpus (the memorization/novelty audit of
  McCoy et al. 2023's "how novel is generated text?" and the inverse
  of q_decontaminate): what fraction of each candidate document's
  8-token grams never occur in the reference corpus;
* **q_zipf_fit** — the Zipf rank-frequency power-law fit: log-log OLS
  slope over the top token ranks (Zipf 1949; the corpus-health check —
  natural text sits near slope −1, boilerplate and spam do not);
* **q_chao1_vocab** — the Chao1 (1984) richness estimator of unseen
  vocabulary (bias-corrected form) plus Good-Turing sample coverage:
  "how much vocabulary has this corpus NOT yet seen?";
* **q_good_turing** — Good-Turing (1953) smoothed frequencies r* from
  the count-of-counts table: the adjusted mass a language model should
  assign to r-count tokens, and the classic smoothing sanity report.

Round-10 additions (VERDICT r9 item 2 + the type-side fit):

* **q_bpe_train** — the multi-iteration BPE trainer: K=5 learned merges
  via a driver-side loop of bounded JVM jobs over the Heaps-bounded
  vocabulary table (q_bpe_merges is its single-step candidate queue);
* **q_heaps_fit** — the Heaps-law V(n) ≈ K·n^β log-log OLS over the
  shared q_vocab_growth decile curve — q_zipf_fit's companion on the
  type-inventory side.

Determinism discipline (house rules): all frequencies are exact
integers; the only floats are log2 of integer counts rounded at 12 dp
into DECIMAL(28,12) order-free sums (the q_collocations device —
measured engine-identical at 12 dp) and final integer-ratio divisions
rounded at 9 dp with +0.0; top-k outputs order by a total key
(freq DESC, token asc); degenerate corpora (empty vocabulary, missing
count-of-count rows) yield NULL or no row via integer-exact
conditions.  All outputs are scalar columns (driver canonicalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bifrost_spark.operators.dedup import token_gram_hashes, word_array
from bifrost_spark.operators.vectors import local_frame
from bifrost_spark.queries.llm_text import VOCAB_GROWTH_SQL
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

_D2812 = "decimal(28,12)"

# Shared oracle fragment: the lowercased bag-of-words token-count table
# (the q_collocations tokenization).
_TOKEN_COUNTS_SQL = """
        toks AS (
          SELECT t AS tok FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS t
            FROM documents
          )
        ),
        counts AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks GROUP BY tok
        )
"""


def _token_counts(spark, sf_dir):
    """(tok, c) exact token-frequency table over the lowercased
    whitespace tokenization — shared by the Zipf / Chao1 / Good-Turing
    trio (and the same spelling q_collocations' unigram margin uses)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


# ---------------------------------------------------------------------------
# q_bpe_merges — first BPE merge iteration over the word-frequency table
# ---------------------------------------------------------------------------

_BPE_TOPK = 20
_BPE_EOW = "</w>"


@query(
    "q_bpe_merges",
    oracle=f"""
        WITH words AS (
          SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wc
          FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS w
            FROM documents
          ) GROUP BY w
        ),
        pairs AS (
          SELECT CASE WHEN i < len(word) THEN substr(word, i, 1)
                      ELSE substr(word, len(word), 1) END AS p1,
                 CASE WHEN i < len(word) THEN substr(word, i + 1, 1)
                      ELSE '{_BPE_EOW}' END AS p2,
                 wc
          FROM words, UNNEST(range(1, len(word) + 1)) AS t(i)
        )
        SELECT p1, p2, CAST(SUM(wc) AS BIGINT) AS pair_freq
        FROM pairs GROUP BY p1, p2
        ORDER BY pair_freq DESC, p1, p2 LIMIT {_BPE_TOPK}
    """,
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first Byte-Pair-Encoding merge iteration (Sennrich, Haddow &
    Birch 2016): fold the corpus to its word-frequency table, split each
    DISTINCT word into characters plus the end-of-word marker, and rank
    adjacent symbol pairs by corpus frequency (each pair weighted by its
    word's count) — the top row is exactly the first merge a BPE
    tokenizer trained on this corpus would learn, and the table is the
    candidate queue driving every later iteration.

    Scale shape: the ONLY pass over text is the word-count aggregate
    (map-side combined); pair extraction then runs on the DISTINCT
    vocabulary (Heaps-law-bounded, not corpus-bounded) as an in-row
    transform, and the pair rollup is ≤|alphabet|² cells.  This
    vocabulary-table factoring is why real BPE trainers scale: later
    iterations rewrite the vocab table, never the corpus.  Top-k is
    TakeOrderedAndProject over the total (freq DESC, p1, p2) key.

    Determinism: everything is exact integer counts over exact strings;
    the top-k order key is total."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    words = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    ln = F.length("word")

    def pair(i):
        return F.struct(
            F.when(i < ln, F.col("word").substr(i, F.lit(1)))
            .otherwise(F.col("word").substr(ln, F.lit(1)))
            .alias("p1"),
            F.when(i < ln, F.col("word").substr(i + 1, F.lit(1)))
            .otherwise(F.lit(_BPE_EOW))
            .alias("p2"),
        )

    pairs = words.select(
        "wc", F.explode(F.transform(F.sequence(F.lit(1), ln), pair)).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.sum("wc").cast("bigint").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), "p1", "p2")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# q_ngram_novelty — candidate-set novelty vs the standing corpus
# ---------------------------------------------------------------------------

_NOV_K = 8  # tokens per gram (the q_dup_spans gram length)
_NOV_MOD = 7  # candidates: doc_id % 7 == 3 (a held-out-drop stand-in)
_NOV_RES = 3


@query(
    "q_ngram_novelty",
    oracle=f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
          SELECT doc_id,
                 array_to_string(ws[i:i + {_NOV_K - 1}], ' ') AS g
          FROM w, UNNEST(range(1, len(ws) - {_NOV_K - 2})) AS t(i)
          WHERE len(ws) >= {_NOV_K}
        ),
        cand AS (
          SELECT DISTINCT doc_id, g FROM grams
          WHERE doc_id % {_NOV_MOD} = {_NOV_RES}
        ),
        ref AS (
          SELECT DISTINCT g FROM grams WHERE doc_id % {_NOV_MOD} <> {_NOV_RES}
        )
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               round(CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 9) + 0.0 AS novelty_frac
        FROM cand c LEFT JOIN ref r ON r.g = c.g
        GROUP BY c.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty audit of a candidate drop against the standing
    corpus (the memorization/novelty readout of McCoy et al. 2023 and
    the INVERSE of q_decontaminate): for each candidate document
    (doc_id ≡ 3 mod 7 — a held-out drop stand-in), the fraction of
    its distinct 8-token grams that never occur in the reference
    corpus.  Low novelty on generated/synthetic data means the
    generator is regurgitating training text; high novelty on a crawl
    drop means genuinely new content worth keeping.

    Scale shape: grams come from the SHARED token_gram_hashes builder
    (operators/dedup.py — one spelling with q_dup_spans and
    q_dup_span_ladder): construction is scan-local, shuffles carry only
    8-byte hashes, text never moves.  The candidate side is small by
    construction; the anti join keys on the hash — shuffle-joinable at
    any corpus size, with the broadcast-vs-shuffle choice left to AQE's
    size estimate (at fixture scale AQE broadcasts the tiny reference
    gram set; at 100 TB the same plan shuffles on the 8-byte hash — the
    reference side is never collected driver-side either way).  Engine
    grams by hash while the oracle grams by string:
    identical counts modulo 2^-64 collisions, the documented
    q_dup_spans device.

    Determinism: distinct-gram counts are exact integers; the fraction
    is one int/int division rounded at 9 dp."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # r12: the r11 spread here was A/B-neutral on the builder's machine and
    # the driver measured it 25% SLOWER (VERDICT r11 item 6) — the gram
    # explode below is cheap enough that the extra exchange never paid.
    # Reverted; the checkpoint below still collapses the 3 consumers to
    # one derivation.
    base = d.select("doc_id", word_array().alias("ws"))
    grams = base.select(
        "doc_id",
        F.explode(token_gram_hashes("ws", _NOV_K)).alias("g"),
    ).select("doc_id", F.col("g.gh").alias("gh"))
    # The gram frame feeds the candidate AND reference sides (and the
    # candidate side twice); Catalyst re-derives the explode per consumer
    # (no subtree reuse), so pin the 16-byte rows once — the q_dup_spans
    # checkpoint discipline (measured: 3 documents scans → 0).
    grams = grams.localCheckpoint(eager=True)
    is_cand = F.col("doc_id") % _NOV_MOD == _NOV_RES
    cand = grams.filter(is_cand).select("doc_id", "gh").distinct()
    cand = cand.localCheckpoint(eager=True)  # consumed by per-doc AND anti
    ref = grams.filter(~is_cand).select("gh").distinct()
    novel = cand.join(ref, "gh", "left_anti").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    per_doc = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            (
                F.round(
                    F.coalesce("n_novel", F.lit(0)).cast("double")
                    / F.col("n_grams"),
                    9,
                )
                + F.lit(0.0)
            ).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q_zipf_fit — log-log OLS over the rank-frequency head
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000


@query(
    "q_zipf_fit",
    oracle=f"""
        WITH {_TOKEN_COUNTS_SQL},
        head AS (
          SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
          FROM counts ORDER BY c DESC, tok LIMIT {_ZIPF_TOP}
        ),
        xy AS (
          SELECT CAST(round(log2(rk), 12) AS DECIMAL(28,12)) AS x,
                 CAST(round(log2(c), 12) AS DECIMAL(28,12)) AS y,
                 CAST(round(round(log2(rk), 12) * round(log2(rk), 12), 12)
                      AS DECIMAL(28,12)) AS xx,
                 CAST(round(round(log2(rk), 12) * round(log2(c), 12), 12)
                      AS DECIMAL(28,12)) AS xy,
                 CAST(round(round(log2(c), 12) * round(log2(c), 12), 12)
                      AS DECIMAL(28,12)) AS yy
          FROM head
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(xx) AS DOUBLE) AS sxx,
                 CAST(SUM(xy) AS DOUBLE) AS sxy,
                 CAST(SUM(yy) AS DOUBLE) AS syy
          FROM xy
        )
        SELECT n AS n_ranks,
               CASE WHEN n > 1 AND n * sxx - sx * sx > 0 THEN
                 round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) + 0.0
               END AS slope,
               CASE WHEN n > 1 AND n * sxx - sx * sx > 0 THEN
                 round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n, 9) + 0.0
               END AS intercept_log2,
               CASE WHEN n > 1 AND n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0 THEN
                 round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
                   + 0.0
               END AS r2
        FROM s WHERE n > 0
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus rank-frequency curve: ordinary
    least squares of log2(frequency) on log2(rank) over the top
    1000 token ranks — natural language sits near slope −1 (Zipf
    1949), so a corpus whose slope drifts far from it is dominated by
    boilerplate (too flat) or near-duplicate spam (too steep); the
    slope is SCALE-FREE (a log-log slope is identical in any log base,
    which is why the engine-proven log2 device applies).

    Determinism: ranks come from the total (count DESC, token) order;
    x, y and their products are log2s of exact integers rounded at
    12 dp (the q_collocations cross-engine log2 contract), products
    re-rounded at 12 dp, summed order-free in DECIMAL(28,12); the OLS
    closed forms are identical IEEE trees over those sums, rounded at
    9 dp.  Degenerate heads (n ≤ 1 or zero x-variance) yield NULL fits
    via exact conditions.

    Scale shape: one token-count aggregate (map-side combined, Heaps-
    bounded vocabulary); the head is TakeOrderedAndProject (never a
    full vocabulary sort); the fit folds 1000 rows."""
    counts = _token_counts(spark, sf_dir)
    head = (
        counts.orderBy(F.desc("c"), "tok")
        .limit(_ZIPF_TOP)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "tok"))
            .alias("rk"),
        )
    )

    def r12(col):
        return F.round(F.log2(col), 12)

    xy = head.select(
        r12(F.col("rk")).cast(_D2812).alias("x"),
        r12(F.col("c")).cast(_D2812).alias("y"),
        F.round(r12(F.col("rk")) * r12(F.col("rk")), 12).cast(_D2812).alias("xx"),
        F.round(r12(F.col("rk")) * r12(F.col("c")), 12).cast(_D2812).alias("xy"),
        F.round(r12(F.col("c")) * r12(F.col("c")), 12).cast(_D2812).alias("yy"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("yy").cast("double").alias("syy"),
    ).filter(F.col("n") > 0)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    slope = (n * sxy - sx * sy) / dx
    ok = (n > 1) & (dx > 0)
    return s.select(
        n.alias("n_ranks"),
        F.when(ok, F.round(slope, 9) + F.lit(0.0)).alias("slope"),
        F.when(ok, F.round((sy - slope * sx) / n, 9) + F.lit(0.0)).alias(
            "intercept_log2"
        ),
        F.when(
            ok & (dy > 0),
            F.round(
                ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (dx * dy), 9
            )
            + F.lit(0.0),
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q_chao1_vocab — unseen-vocabulary richness + Good-Turing coverage
# ---------------------------------------------------------------------------


@query(
    "q_chao1_vocab",
    oracle=f"""
        WITH {_TOKEN_COUNTS_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
               CAST(COUNT(*) FILTER (WHERE c = 2) AS BIGINT) AS f2,
               round(COUNT(*)
                     + CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE)
                       * (COUNT(*) FILTER (WHERE c = 1) - 1)
                       / (2.0 * (COUNT(*) FILTER (WHERE c = 2) + 1)), 9)
                 + 0.0 AS chao1,
               round(1 - CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE)
                         / SUM(c), 9) + 0.0 AS gt_coverage
        FROM counts HAVING COUNT(*) > 0
    """,
)
def q_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimate: the bias-corrected Chao1 richness
    estimator V + f1(f1−1)/(2(f2+1)) (Chao 1984; the form defined even
    with no doubletons) over the token-frequency table, plus the
    Good-Turing sample coverage 1 − f1/N (Good 1953) — together, "how
    much MORE vocabulary would more of this corpus surface, and what
    fraction of token mass do unseen types hold?"  The
    collection-curve readout that tells a data buyer whether the next
    crawl increment still adds vocabulary.

    Determinism: V, N, f1, f2 are exact integers from one fold over
    the token-count table; the two estimates are single identical IEEE
    trees over integers, rounded at 9 dp.  An empty corpus emits no
    row (exact V > 0 condition).

    Scale shape: one token-count aggregate, one fold — the whole
    statistic is two map-side-combined passes at any corpus size."""
    counts = _token_counts(spark, sf_dir)
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint")
    agg = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_obs"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        f1.alias("f1"),
        f2.alias("f2"),
    ).filter(F.col("v_obs") > 0)
    return agg.select(
        "v_obs",
        "n_tokens",
        "f1",
        "f2",
        (
            F.round(
                F.col("v_obs")
                + F.col("f1").cast("double")
                * (F.col("f1") - 1)
                / (F.lit(2.0) * (F.col("f2") + 1)),
                9,
            )
            + F.lit(0.0)
        ).alias("chao1"),
        (
            F.round(
                1 - F.col("f1").cast("double") / F.col("n_tokens"), 9
            )
            + F.lit(0.0)
        ).alias("gt_coverage"),
    )


# ---------------------------------------------------------------------------
# q_good_turing — smoothed frequencies from count-of-counts
# ---------------------------------------------------------------------------

_GT_MAX_R = 10


@query(
    "q_good_turing",
    oracle=f"""
        WITH {_TOKEN_COUNTS_SQL},
        coc AS (
          SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
          FROM counts GROUP BY c
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts)
        SELECT s.r, COALESCE(c1.n_r, 0) AS n_r,
               CASE WHEN c1.n_r > 0 AND c2.n_r > 0 THEN
                 round((s.r + 1) * CAST(c2.n_r AS DOUBLE) / c1.n_r, 9) + 0.0
               END AS r_star,
               CASE WHEN c1.n_r > 0 AND c2.n_r > 0 THEN
                 round((s.r + 1) * CAST(c2.n_r AS DOUBLE) / c1.n_r
                       / (SELECT n FROM tot), 12) + 0.0
               END AS p_gt
        FROM (SELECT UNNEST(range(1, {_GT_MAX_R + 1})) AS r) s
        LEFT JOIN coc c1 ON c1.r = s.r
        LEFT JOIN coc c2 ON c2.r = s.r + 1
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing smoothed frequencies (Good 1953) from the token
    count-of-counts table: for each raw count r <= 10, the adjusted
    count r* = (r+1)·N_(r+1)/N_r and the smoothed probability
    r*/N — the frequency mass a language model should ACTUALLY assign
    to tokens seen r times (the raw r overestimates; the classic
    example: the unseen-mass estimate N_1/N is this table's r=0 edge,
    reported by q_chao1_vocab as coverage).  The r spine is FULL
    (1..10): a missing count-of-count row reports n_r = 0 with NULL
    smoothing rather than silently vanishing — the margin-spine
    discipline.

    Determinism: N_r are exact integers; r* and p are integer-ratio
    IEEE divisions rounded at 9/12 dp; rows with N_r = 0 or
    N_(r+1) = 0 yield NULL via exact conditions (the textbook
    Simple Good-Turing fallback to a fitted curve needs regression —
    q_zipf_fit's device — and is out of scope by design).

    Scale shape: token counts (one aggregate), count-of-counts
    (second tiny aggregate), then a 10-row spine join."""
    counts = _token_counts(spark, sf_dir)
    coc = (
        counts.groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
        .localCheckpoint(eager=True)  # tiny; feeds the spine twice
    )
    tot = counts.agg(F.sum("c").cast("bigint").alias("n"))
    spine = spark.range(1, _GT_MAX_R + 1).select(F.col("id").alias("r"))
    c1 = coc.select("r", "n_r")
    c2 = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    joined = (
        spine.join(c1, "r", "left")
        .join(c2, "r", "left")
        .crossJoin(F.broadcast(tot))
    )
    rstar = (F.col("r") + 1) * F.col("n_r1").cast("double") / F.col("n_r")
    ok = (F.col("n_r") > 0) & (F.col("n_r1") > 0)
    return joined.select(
        "r",
        F.coalesce("n_r", F.lit(0)).cast("bigint").alias("n_r"),
        F.when(ok, F.round(rstar, 9) + F.lit(0.0)).alias("r_star"),
        F.when(ok, F.round(rstar / F.col("n"), 12) + F.lit(0.0)).alias("p_gt"),
    )


# ---------------------------------------------------------------------------
# q_bpe_train — multi-iteration BPE trainer (VERDICT r9 item 2)
# ---------------------------------------------------------------------------

_BPE_TRAIN_K = 5
# Oracle symbol wrappers (chr(1)/chr(2)): the DuckDB side applies each
# merge with replace() over individually-wrapped symbols, so adjacent
# matches share no characters and left-to-right non-overlapping
# replacement is EXACTLY the greedy BPE application the engine's array
# fold performs.  Words containing either wrapper byte are excluded from
# training on BOTH engines (a declared tokenizer-corpus contract; real
# text never carries 0x01/0x02).
_W1, _W2 = "\x01", "\x02"


def _bpe_train_oracle(k: int) -> str:
    parts = [
        f"""w0 AS (
          SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wc
          FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS w
            FROM documents
          )
          WHERE NOT contains(w, chr(1)) AND NOT contains(w, chr(2))
          GROUP BY w
        ),
        v0 AS (
          SELECT wc,
                 list_aggregate(
                   list_transform(range(1, len(word) + 1),
                                  i -> chr(1) || substr(word, CAST(i AS INT), 1)
                                       || chr(2))
                   || [chr(1) || '{_BPE_EOW}' || chr(2)],
                   'string_agg', '') AS s
          FROM w0
        )"""
    ]
    for i in range(k):
        parts.append(
            f"""syms{i} AS (
          SELECT wc, string_split(trim(s, chr(1) || chr(2)),
                                  chr(2) || chr(1)) AS l
          FROM v{i}
        ),
        p{i} AS (
          SELECT l[CAST(j AS INT)] AS p1, l[CAST(j AS INT) + 1] AS p2, wc
          FROM syms{i}, UNNEST(range(1, len(l))) AS t(j)
        ),
        m{i} AS (
          SELECT p1, p2, CAST(SUM(wc) AS BIGINT) AS f
          FROM p{i} GROUP BY p1, p2
          ORDER BY f DESC, p1, p2 LIMIT 1
        ),
        v{i + 1} AS (
          SELECT wc,
                 replace(s, chr(1) || m.p1 || chr(2) || chr(1) || m.p2 || chr(2),
                            chr(1) || m.p1 || m.p2 || chr(2)) AS s
          FROM v{i}, m{i} m
        )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS step, p1, p2, f AS pair_freq FROM m{i}"
        for i in range(k)
    )
    return "WITH " + ",\n        ".join(parts) + "\n        " + union


@query("q_bpe_train", oracle=_bpe_train_oracle(_BPE_TRAIN_K))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration BPE trainer (Sennrich, Haddow & Birch 2016;
    VERDICT r9 item 2): learn the first 5 merges — at each step, count
    adjacent symbol pairs over the word-frequency table, take the most
    frequent pair (freq DESC, p1, p2 total order), and rewrite every
    word's symbol sequence with the merged symbol applied GREEDILY
    left-to-right non-overlapping (the reference BPE application rule) —
    the output is the learned merge list itself, the artifact a
    tokenizer-training pipeline persists.

    The Spark shape is the real trainer's shape: the corpus is read ONCE
    (word-count aggregate, map-side combined); every iteration runs on
    the DISTINCT-vocabulary table (Heaps-bounded, localCheckpointed so
    the loop's lineage stays flat) as a driver-side loop of K bounded
    JVM jobs — pair explode, one hash aggregate, a 1-row TakeOrdered
    collect (the house bounded-model-fold pattern), and an in-row array
    fold applying the merge.  Nothing per-iteration touches text.

    Merge application is a fold over the symbol array: append each
    symbol, or replace the accumulator's tail with the merged symbol
    when (tail, current) equals the learned pair — greedy left-to-right
    by construction ("aaaa" + merge(a,a) → [aa, aa], never [aa, a, a]).
    The DuckDB oracle unrolls the same K iterations over wrapped-symbol
    strings where replace() performs the identical greedy rewrite.

    Determinism: exact integer counts, total-order merge selection,
    exact string symbols; ties in pair frequency resolve by the same
    (p1, p2) binary order on both engines.  An exhausted vocabulary
    (no pairs left) simply stops emitting steps on both sides."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
    words = (
        d.select(F.explode(toks).alias("word"))
        .filter(
            ~F.col("word").contains(_W1) & ~F.col("word").contains(_W2)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    ln = F.length("word")
    init_syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), ln),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ),
        F.array(F.lit(_BPE_EOW)),
    )
    vocab = words.select("wc", init_syms.alias("syms")).localCheckpoint(
        eager=True
    )
    empty_arr = F.expr("CAST(array() AS ARRAY<STRING>)")

    def adjacent_pairs(col):
        return F.when(
            F.size(col) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(col) - 1),
                lambda i: F.struct(
                    F.get(col, i - 1).alias("p1"), F.get(col, i).alias("p2")
                ),
            ),
        ).otherwise(
            F.expr(
                "CAST(array() AS ARRAY<STRUCT<p1: STRING, p2: STRING>>)"
            )
        )

    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, _BPE_TRAIN_K + 1):
        top = (
            vocab.select(
                "wc", F.explode(adjacent_pairs(F.col("syms"))).alias("p")
            )
            .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
            .agg(F.sum("wc").cast("bigint").alias("f"))
            .orderBy(F.desc("f"), "p1", "p2")
            .limit(1)
            .collect()
        )
        if not top:
            break
        p1, p2, f = top[0]["p1"], top[0]["p2"], int(top[0]["f"])
        merges.append((step, p1, p2, f))
        merged = F.lit(p1 + p2)

        def apply_merge(col, a=p1, b=p2):
            return F.aggregate(
                col,
                empty_arr,
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (s == F.lit(b)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(merged),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )

        # r12 A/B (honest clock, min-of-5 at sf0.1): dropping this per-step
        # checkpoint made the query 2.98 → 4.42 s — the nested merge-fold
        # lineage blows up Catalyst analysis/codegen long before the
        # recompute cost matters.  KEPT.
        vocab = vocab.select(
            "wc", apply_merge(F.col("syms")).alias("syms")
        ).localCheckpoint(eager=True)
    return local_frame(
        spark, merges, "step bigint, p1 string, p2 string, pair_freq bigint"
    )


# ---------------------------------------------------------------------------
# q_heaps_fit — Heaps-law power fit over the vocabulary-growth curve
# ---------------------------------------------------------------------------


@query(
    "q_heaps_fit",
    oracle=f"""
        WITH curve AS ({VOCAB_GROWTH_SQL}),
        pts AS (
          SELECT round(ln(CAST(tokens_cum AS DOUBLE)), 12) AS x,
                 round(ln(CAST(vocab_cum AS DOUBLE)), 12) AS y
          FROM curve WHERE tokens_cum > 0 AND vocab_cum > 0
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(28,12)))
                      AS DOUBLE) AS sxx
          FROM pts
        )
        SELECT n AS n_points,
               CASE WHEN n * sxx - sx * sx > 0 THEN
                 round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) + 0.0
               END AS beta,
               CASE WHEN n * sxx - sx * sx > 0 THEN
                 round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n, 9) + 0.0
               END AS ln_k
        FROM agg WHERE n > 0
    """,
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit V(n) ≈ K·n^β: log-log OLS over the q_vocab_growth
    decile curve (one shared curve spelling — the engine calls the
    registered q_vocab_growth plan, the oracle embeds its SQL as a CTE),
    the companion to q_zipf_fit on the type side — natural corpora fit
    β ≈ 0.4–0.6; β near 0 means the vocabulary has saturated (a fixed
    vocab is safe), β near 1 flags an open-ended type inventory
    (IDs/hashes/boilerplate churn).

    Determinism: x/y are ln of exact integers rounded at 12 dp; the
    cross-terms round at 12 dp and all four sums accumulate order-free
    in DECIMAL(28,12) over the ≤10-row decile frame; β and ln K are
    identically-spelled IEEE trees rounded at 9 dp.  A degenerate curve
    (single distinct x — all tokens in one decile) yields NULL via the
    exact denominator condition; an empty corpus yields no row."""
    from bifrost_spark.queries.llm_text import q_vocab_growth

    curve = q_vocab_growth(spark, sf_dir)
    pts = curve.filter(
        (F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0)
    ).select(
        F.round(F.log(F.col("tokens_cum").cast("double")), 12).alias("x"),
        F.round(F.log(F.col("vocab_cum").cast("double")), 12).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(_D2812)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(_D2812)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(_D2812))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(_D2812))
        .cast("double")
        .alias("sxx"),
    ).filter(F.col("n") > 0)
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return agg.select(
        F.col("n").alias("n_points"),
        F.when(denom > 0, F.round(beta, 9) + F.lit(0.0)).alias("beta"),
        F.when(
            denom > 0,
            F.round((F.col("sy") - beta * F.col("sx")) / F.col("n"), 9)
            + F.lit(0.0),
        ).alias("ln_k"),
    )
