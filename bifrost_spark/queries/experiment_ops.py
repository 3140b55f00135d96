"""Round-9 experimentation-design operator family.

The readouts an experimentation platform needs BEYOND a single
fixed-horizon z-test (q_ab_test) or a fully-sequential walk
(q_sprt_monitor):

* **q_group_sequential** — group-sequential monitoring at K scheduled
  looks with O'Brien-Fleming and Pocock stopping boundaries (O'Brien &
  Fleming 1979; Pocock 1977): the industry-standard "peek K times,
  spend alpha by schedule" design between one-look and always-on SPRT;
* **q_mantel_haenszel** — the Cochran-Mantel-Haenszel stratified 2×2
  test and MH common odds ratio (Mantel & Haenszel 1959): the
  Simpson's-paradox guard q_ab_test lacks when arm allocation skews
  across strata (here a 4-way user_id-modulus site stand-in — the
  q_partition_demux bucketing);
* **q_permutation_test** — a deterministic-label permutation test for
  the variant difference in per-user mean metric: the
  assumption-free p-value when neither normality nor equal variance
  can be trusted, with md5-derived (RNG-free, engine-portable)
  relabelings — the q_bootstrap_ci device applied to labels instead of
  resamples;
* **q_page_hinkley** — the Page-Hinkley drift monitor (Page 1954; the
  running-mean variant of CUSUM standard in stream-mining): cumulative
  deviation of each day's mean from the running mean, alarming when it
  leaves its historical minimum by more than λ — the self-calibrating
  cousin of q_cusum_drift that needs no baseline week.

Round-10 additions:

* **q_poisson_rate** — the two-arm Poisson rate-ratio Wald z over
  purchases per active user-day: the COUNT-metric companion to
  q_ab_test's proportion z;
* **q_breslow_day** — the Breslow-Day (1980) test that the CMH common
  odds ratio is real: per-stratum expected cells under the MH ψ via the
  in-range quadratic root, χ² on n_strata−1 df;
* **q_cochran_armitage** — the Cochran-Armitage trend z across the
  ordered site strata, completing the stratified triple (association /
  homogeneity / outcome trend).

The group-sequential helpers (gs_assignments / gs_look_cells /
gs_decision_frame) are shared with the streaming GST monitor
(streaming/gst_monitor.py, the sixth batch↔streaming pairing).

Determinism discipline (house rules): counts are exact integers;
boundary constants and permutation counts are PRECOMPUTED literals
shared by both engines; per-stratum and per-day deep-fraction addends
round at 12 dp into DECIMAL(28,12) before order-free summation;
z-statistics are identically-spelled IEEE trees over integer counts
(the q_ab_test contract), compared at 9 dp with +0.0; degenerate
inputs (empty arms, zero-variance strata, all-tied series) yield NULL
or no row via integer-exact conditions.  All outputs are scalar
columns (driver canonicalization).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bifrost_spark.operators.vectors import local_frame, sql_literal
from bifrost_spark.queries.dist_tests import _DAILY_SQL, _daily_means
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

_D2812 = "decimal(28,12)"

# ---------------------------------------------------------------------------
# q_group_sequential — K-look monitoring with OBF / Pocock boundaries
# ---------------------------------------------------------------------------

_GS_LOOKS = 5
_GS_DAYS_PER_LOOK = 6
# Published two-sided alpha=0.05 group-sequential constants for K=5
# equally-spaced looks: O'Brien & Fleming (1979) use z_k = C_B * sqrt(K/k)
# with C_B = 2.04; Pocock (1977, Table 1) uses the constant boundary
# c_P = 2.413 at every look.  Both engines compare against the SAME
# precomputed literals (the q_sprt_monitor boundary device).
_GS_OBF_C = 2.04
_GS_POCOCK = 2.413
_GS_OBF_BOUNDS = tuple(
    _GS_OBF_C * math.sqrt(_GS_LOOKS / k) for k in range(1, _GS_LOOKS + 1)
)

_GS_ASSIGN_SQL = """
        assign AS (
          SELECT user_id,
                 MIN(date_trunc('day', ts)) AS first_day,
                 CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                            % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) * 4 > COUNT(*)
                      THEN 1 ELSE 0 END AS converted
          FROM events WHERE user_id IS NOT NULL
          GROUP BY user_id
        )
"""


@query(
    "q_group_sequential",
    oracle=f"""
        WITH {_GS_ASSIGN_SQL},
        looks AS (
          SELECT variant,
                 LEAST({_GS_LOOKS}, 1 + date_diff('day',
                       (SELECT CAST(MIN(first_day) AS DATE) FROM assign),
                       CAST(first_day AS DATE)) // {_GS_DAYS_PER_LOOK})
                   AS look,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(converted) AS BIGINT) AS c
          FROM assign GROUP BY 1, 2
        ),
        spine AS (
          SELECT v.variant, k.look,
                 COALESCE(l.n, 0) AS n, COALESCE(l.c, 0) AS c
          FROM (SELECT 'A' AS variant UNION ALL SELECT 'B') v
          CROSS JOIN (SELECT UNNEST(range(1, {_GS_LOOKS + 1})) AS look) k
          LEFT JOIN looks l ON l.variant = v.variant AND l.look = k.look
        ),
        cum AS (
          SELECT variant, look,
                 SUM(n) OVER (PARTITION BY variant ORDER BY look) AS n,
                 SUM(c) OVER (PARTITION BY variant ORDER BY look) AS c
          FROM spine
        ),
        wide AS (
          SELECT look,
                 CAST(MAX(CASE WHEN variant = 'A' THEN n END) AS DOUBLE)
                   AS n_a,
                 CAST(MAX(CASE WHEN variant = 'A' THEN c END) AS DOUBLE)
                   AS c_a,
                 CAST(MAX(CASE WHEN variant = 'B' THEN n END) AS DOUBLE)
                   AS n_b,
                 CAST(MAX(CASE WHEN variant = 'B' THEN c END) AS DOUBLE)
                   AS c_b
          FROM cum GROUP BY look
        ),
        z AS (
          SELECT look, n_a, c_a, n_b, c_b,
                 CASE WHEN n_a > 0 AND n_b > 0 AND c_a + c_b > 0
                           AND c_a + c_b < n_a + n_b
                      THEN round((c_a / n_a - c_b / n_b)
                           / sqrt(((c_a + c_b) / (n_a + n_b))
                                  * (1 - (c_a + c_b) / (n_a + n_b))
                                  * (1 / n_a + 1 / n_b)), 9) + 0.0
                 END AS z
          FROM wide
        )
        SELECT CAST(look AS BIGINT) AS look,
               CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
               CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
               z,
               CASE look {" ".join(f"WHEN {k + 1} THEN {b!r}" for k, b in enumerate(_GS_OBF_BOUNDS))} END
                 AS obf_bound,
               {_GS_POCOCK!r} AS pocock_bound,
               CAST(CASE WHEN z IS NOT NULL AND abs(z) >=
                 CASE look {" ".join(f"WHEN {k + 1} THEN {b!r}" for k, b in enumerate(_GS_OBF_BOUNDS))} END
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_obf,
               CAST(CASE WHEN z IS NOT NULL AND abs(z) >= {_GS_POCOCK!r}
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_pocock
        FROM z
    """,
)
def q_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring at 5 scheduled looks
    (every 6 entry-days): at each look the cumulative two-proportion
    pooled z over users enrolled SO FAR is compared against the
    O'Brien-Fleming boundary C·sqrt(K/k) (conservative early, nominal
    late — the clinical-trials default) and the constant Pocock
    boundary — the scheduled-looks counterpart to q_sprt_monitor's
    always-on walk (VERDICT r8 item 3a).  Peeking at a fixed-horizon
    z-test inflates its false-positive rate; these boundaries are WHAT
    makes K looks legal.

    Determinism: enrollment counts are exact integers on the full
    variant × look spine (empty looks still emit cumulative rows); z is
    the identical q_ab_test IEEE tree, rounded at 9 dp, NULL on empty
    arms or degenerate pooled rates by exact integer conditions; the
    boundaries are PRECOMPUTED Python literals interpolated into both
    plans (the q_sprt_monitor device — no runtime sqrt feeds a compared
    boundary).

    Scale shape: one per-user aggregate (shuffle on user_id), a
    ≤2K-cell rollup, and windows over the K-row spine — the readout
    costs two aggregates regardless of event volume."""
    assign = gs_assignments(load_table(spark, sf_dir, "events"))
    d0 = assign.agg(F.min(F.col("first_day").cast("date")).alias("d0"))
    looks = gs_look_cells(assign, d0)
    return gs_decision_frame(spark, looks)


def gs_assignments(ev: DataFrame) -> DataFrame:
    """Per-user (first_day, converted, variant) enrollment frame — the
    SHARED input of q_group_sequential and the streaming GST monitor
    (streaming/gst_monitor.py), factored so both consume identical
    enrollments (the arm_b_daily_enrollments pairing device, both
    arms)."""
    first_hex = F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1))
    return (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.date_trunc("day", "ts")).alias("first_day"),
            F.when(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 4
                > F.count(F.lit(1)),
                1,
            )
            .otherwise(0)
            .alias("converted"),
            F.first(F.when(first_hex % 2 == 0, "A").otherwise("B")).alias("variant"),
        )
        .localCheckpoint(eager=True)  # feeds min-day scalar AND the cells
    )


def gs_look_cells(assign: DataFrame, d0: DataFrame) -> DataFrame:
    """(variant, look, n, c) enrollment counts per look, anchored at the
    1-row ``d0`` frame (the experiment start day).  Additive across
    user-complete batches — the streaming twin sums these increments."""
    return (
        assign.crossJoin(F.broadcast(d0))
        .groupBy(
            "variant",
            F.least(
                F.lit(_GS_LOOKS),
                1
                + F.floor(
                    F.datediff(F.col("first_day").cast("date"), F.col("d0"))
                    / _GS_DAYS_PER_LOOK
                ),
            ).alias("look"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("converted").cast("bigint").alias("c"),
        )
    )


def gs_decision_frame(spark: SparkSession, looks: DataFrame) -> DataFrame:
    """The K-look decision table from per-(variant, look) count cells:
    full spine, cumulative enrollment, pooled z, OBF/Pocock boundaries —
    ONE spelling consumed by both the batch query and the streaming
    monitor, so their decisions agree by construction."""
    spine = (
        spark.range(1, _GS_LOOKS + 1)
        .select(F.col("id").alias("look"))
        .crossJoin(
            local_frame(spark, [("A",), ("B",)], "variant string")
        )
        .join(looks, ["variant", "look"], "left")
        .select(
            "variant",
            "look",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    wc = Window.partitionBy("variant").orderBy("look")
    cum = spine.select(
        "variant",
        "look",
        F.sum("n").over(wc).alias("n"),
        F.sum("c").over(wc).alias("c"),
    )
    wide = cum.groupBy("look").agg(
        F.max(F.when(F.col("variant") == "A", F.col("n")))
        .cast("double")
        .alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("c")))
        .cast("double")
        .alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n")))
        .cast("double")
        .alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("c")))
        .cast("double")
        .alias("c_b"),
    )
    p = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    zexpr = (F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b")) / F.sqrt(
        p * (1 - p) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    z = wide.select(
        "look",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.when(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("c_a") + F.col("c_b") > 0)
            & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b")),
            F.round(zexpr, 9) + F.lit(0.0),
        ).alias("z"),
    )
    obf = F.element_at(
        F.expr(sql_literal(_GS_OBF_BOUNDS)), F.col("look").cast("int")
    )
    return z.select(
        F.col("look").cast("bigint").alias("look"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        "z",
        obf.alias("obf_bound"),
        F.lit(_GS_POCOCK).alias("pocock_bound"),
        F.when(F.col("z").isNotNull() & (F.abs("z") >= obf), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("reject_obf"),
        F.when(F.col("z").isNotNull() & (F.abs("z") >= F.lit(_GS_POCOCK)), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("reject_pocock"),
    )


# ---------------------------------------------------------------------------
# q_mantel_haenszel — stratified 2×2 CMH test + common odds ratio
# ---------------------------------------------------------------------------

# Shared oracle fragment: the 4-way site-stratified 2×2 cell table over
# the md5 arm assignment — consumed by q_mantel_haenszel and
# q_breslow_day (one spelling).
_CMH_STRATA_SQL = """strata AS (
          SELECT user_id % 4 AS stratum,
                 CAST(SUM(CASE WHEN variant = 'A' AND converted = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(SUM(CASE WHEN variant = 'A' AND converted = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN variant = 'B' AND converted = 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN variant = 'B' AND converted = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM assign GROUP BY 1
        )"""


def cmh_strata(ev: DataFrame) -> DataFrame:
    """(stratum, a, b, c, d) — the 4-way site-stratified 2×2 cells over
    the md5 arm assignment: the SHARED input of q_mantel_haenszel and
    q_breslow_day (one spelling, mirrored by ``_CMH_STRATA_SQL``)."""
    first_hex = F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1))
    assign = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 4
                > F.count(F.lit(1)),
                1,
            )
            .otherwise(0)
            .alias("converted"),
            F.first(F.when(first_hex % 2 == 0, "A").otherwise("B")).alias("variant"),
        )
    )

    def cell(v, conv):
        return (
            F.sum(
                F.when((F.col("variant") == v) & (F.col("converted") == conv), 1)
                .otherwise(0)
            )
            .cast("bigint")
        )

    return assign.groupBy((F.col("user_id") % 4).alias("stratum")).agg(
        cell("A", 1).alias("a"),
        cell("A", 0).alias("b"),
        cell("B", 1).alias("c"),
        cell("B", 0).alias("d"),
    )



@query(
    "q_mantel_haenszel",
    oracle=f"""
        WITH {_GS_ASSIGN_SQL},
        {_CMH_STRATA_SQL},
        terms AS (
          SELECT a,
                 round(CAST((a + b) AS DOUBLE) * (a + c)
                       / (a + b + c + d), 12) AS e,
                 round(CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d)
                       / (CAST(a + b + c + d AS DOUBLE)
                          * (a + b + c + d) * (a + b + c + d - 1)),
                       12) AS v,
                 round(CAST(a AS DOUBLE) * d / (a + b + c + d), 12) AS rr,
                 round(CAST(b AS DOUBLE) * c / (a + b + c + d), 12) AS ss
          FROM strata WHERE a + b + c + d > 1
        ),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                 CAST(SUM(a) AS BIGINT) AS sum_a,
                 CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE) AS sum_e,
                 CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sum_v,
                 CAST(SUM(CAST(rr AS DECIMAL(28,12))) AS DOUBLE) AS sum_r,
                 CAST(SUM(CAST(ss AS DECIMAL(28,12))) AS DOUBLE) AS sum_s
          FROM terms
        )
        SELECT n_strata, sum_a,
               round(sum_e, 9) + 0.0 AS e_a,
               -- clamped continuity correction (ADVICE r9): the textbook
               -- form is max(0, |d| - 0.5)^2 — an unclamped square would
               -- report 0.25/SUM_V on perfectly-null data
               CASE WHEN sum_v > 0 THEN
                 round(GREATEST(0.0, abs(sum_a - sum_e) - 0.5)
                       * GREATEST(0.0, abs(sum_a - sum_e) - 0.5)
                       / sum_v, 9) + 0.0
               END AS chi2_mh,
               CASE WHEN sum_s > 0 THEN round(sum_r / sum_s, 9) + 0.0
               END AS or_mh
        FROM agg WHERE n_strata > 0
    """,
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test and common odds ratio over
    4 site strata (user_id % 4, the q_partition_demux bucket stand-in;
    Mantel & Haenszel 1959): each site is
    its own 2×2 (variant × converted) table; the CMH statistic
    max(0, |Σa − ΣE| − ½)²/ΣV (continuity correction CLAMPED at zero,
    the textbook form) pools evidence ACROSS strata while the MH odds
    ratio Σ(a·d/N)/Σ(b·c/N) estimates the common effect — the
    Simpson's-paradox guard q_ab_test lacks when arm allocation or base
    rates skew across cohorts (VERDICT r8 item 3b).

    Determinism: the 2×2 cells are exact integers; per-stratum E, V and
    the two odds-ratio addends are integer-ratio doubles rounded at
    12 dp and summed order-free in DECIMAL(28,12); the final statistic
    is one identical IEEE tree (with the classic −0.5 continuity
    correction as a literal) rounded at 9 dp.  Strata with N ≤ 1 are
    excluded by exact condition (V undefined); zero ΣV or Σ(b·c/N)
    yield NULL via exact conditions.

    Scale shape: one per-user aggregate, then everything folds on
    ≤|strata| rows — bounded by the stratum modulus, not the corpus."""
    strata = cmh_strata(load_table(spark, sf_dir, "events"))
    nt = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = strata.filter(nt > 1).select(
        "a",
        F.round(
            (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / nt,
            12,
        ).alias("e"),
        F.round(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nt.cast("double") * nt * (nt - 1)),
            12,
        ).alias("v"),
        F.round(F.col("a").cast("double") * F.col("d") / nt, 12).alias("rr"),
        F.round(F.col("b").cast("double") * F.col("c") / nt, 12).alias("ss"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(F.col("e").cast(_D2812)).cast("double").alias("sum_e"),
        F.sum(F.col("v").cast(_D2812)).cast("double").alias("sum_v"),
        F.sum(F.col("rr").cast(_D2812)).cast("double").alias("sum_r"),
        F.sum(F.col("ss").cast(_D2812)).cast("double").alias("sum_s"),
    ).filter(F.col("n_strata") > 0)
    # Clamp the continuity correction at zero (ADVICE r9): squaring a
    # NEGATIVE deviation when |Σa − ΣE| < 0.5 would inflate a
    # perfectly-null table to 0.25/ΣV; the textbook form is
    # max(0, |d| − ½)².
    dev = F.greatest(
        F.lit(0.0), F.abs(F.col("sum_a") - F.col("sum_e")) - F.lit(0.5)
    )
    return agg.select(
        "n_strata",
        "sum_a",
        (F.round(F.col("sum_e"), 9) + F.lit(0.0)).alias("e_a"),
        F.when(
            F.col("sum_v") > 0, F.round(dev * dev / F.col("sum_v"), 9) + F.lit(0.0)
        ).alias("chi2_mh"),
        F.when(
            F.col("sum_s") > 0,
            F.round(F.col("sum_r") / F.col("sum_s"), 9) + F.lit(0.0),
        ).alias("or_mh"),
    )


# ---------------------------------------------------------------------------
# q_permutation_test — deterministic-relabel permutation p-value
# ---------------------------------------------------------------------------

_PERM_B = 32


@query(
    "q_permutation_test",
    oracle=f"""
        WITH users AS (
          SELECT user_id,
                 round(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(value), 12) AS um,
                 CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                            % 2) = 0 THEN 'A' ELSE 'B' END AS variant
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY user_id
        ),
        obs AS (
          SELECT CAST(SUM(CAST(um AS DECIMAL(28,12)))
                      FILTER (WHERE variant = 'A') AS DOUBLE)
                   / COUNT(*) FILTER (WHERE variant = 'A')
                 - CAST(SUM(CAST(um AS DECIMAL(28,12)))
                        FILTER (WHERE variant = 'B') AS DOUBLE)
                   / COUNT(*) FILTER (WHERE variant = 'B') AS delta
          FROM users
          HAVING COUNT(*) FILTER (WHERE variant = 'A') > 0
             AND COUNT(*) FILTER (WHERE variant = 'B') > 0
        ),
        perms AS (
          SELECT p.b,
                 CAST(SUM(CAST(u.um AS DECIMAL(28,12)))
                      FILTER (WHERE (ascii(substr(md5(
                          CAST(u.user_id AS VARCHAR) || ':'
                          || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 0
                      ) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE (ascii(substr(md5(
                          CAST(u.user_id AS VARCHAR) || ':'
                          || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 0)
                 - CAST(SUM(CAST(u.um AS DECIMAL(28,12)))
                      FILTER (WHERE (ascii(substr(md5(
                          CAST(u.user_id AS VARCHAR) || ':'
                          || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 1
                      ) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE (ascii(substr(md5(
                          CAST(u.user_id AS VARCHAR) || ':'
                          || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 1)
                   AS delta_b
          FROM users u
          CROSS JOIN (SELECT UNNEST(range(1, {_PERM_B + 1})) AS b) p
          GROUP BY p.b
          HAVING COUNT(*) FILTER (WHERE (ascii(substr(md5(
                   CAST(u.user_id AS VARCHAR) || ':'
                   || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 0) > 0
             AND COUNT(*) FILTER (WHERE (ascii(substr(md5(
                   CAST(u.user_id AS VARCHAR) || ':'
                   || CAST(p.b AS VARCHAR)), 1, 1)) % 2) = 1) > 0
        )
        SELECT round((SELECT delta FROM obs), 9) + 0.0 AS delta_obs,
               CAST({_PERM_B} AS BIGINT) AS n_perms,
               CAST(SUM(CASE WHEN abs(delta_b) >= abs((SELECT delta FROM obs))
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
               round((1.0 + SUM(CASE WHEN abs(delta_b) >=
                                          abs((SELECT delta FROM obs))
                                     THEN 1 ELSE 0 END))
                     / (1 + {_PERM_B}), 9) + 0.0 AS p_value
        FROM perms WHERE (SELECT delta FROM obs) IS NOT NULL
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A−B difference in per-user mean metric
    with 32 DETERMINISTIC relabelings: permutation b reassigns each
    user by md5(user_id ‖ ':' ‖ b) — RNG-free and engine-portable (the
    q_bootstrap_ci determinism device applied to LABELS) — and the
    p-value is the add-one estimate (1 + #(|Δ_b| ≥ |Δ_obs|))/(B+1)
    (Davison & Hinkley 1997), exact under the randomization null with
    no normality or equal-variance assumption.

    Determinism: per-user means are 12-dp decimal-exact; arm means sum
    those in DECIMAL(28,12) (order-free) and divide once; every |Δ_b|
    vs |Δ_obs| comparison is between identically-derived doubles, so
    the integer n_extreme — and therefore the exact-rational p —
    hash-match.  Degenerate relabelings that empty an arm are excluded
    by exact integer conditions on both engines.

    Scale shape: ONE shuffle to the per-user frame; the B relabelings
    explode the user frame (not the event table) and fold map-side to
    B partial rows — cost is |users|·B hash evaluations, the same
    class as q_bootstrap_ci's 32× replicate fold, independent of event
    volume."""
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                / F.count("value"),
                12,
            ).alias("um")
        )
        .localCheckpoint(eager=True)  # feeds the observed AND B permuted folds
    )
    variant = (
        F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2 == 0
    )
    obs = (
        users.agg(
            F.sum(F.when(variant, F.col("um").cast(_D2812))).alias("sa"),
            F.count(F.when(variant, 1)).alias("na"),
            F.sum(F.when(~variant, F.col("um").cast(_D2812))).alias("sb"),
            F.count(F.when(~variant, 1)).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            (
                F.col("sa").cast("double") / F.col("na")
                - F.col("sb").cast("double") / F.col("nb")
            ).alias("delta")
        )
    )
    perm_hex = F.ascii(
        F.substring(
            F.md5(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            1,
        )
    )
    perms = (
        users.crossJoin(
            F.broadcast(spark.range(1, _PERM_B + 1).select(F.col("id").alias("b")))
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(perm_hex % 2 == 0, F.col("um").cast(_D2812))).alias("sa"),
            F.count(F.when(perm_hex % 2 == 0, 1)).alias("na"),
            F.sum(F.when(perm_hex % 2 == 1, F.col("um").cast(_D2812))).alias("sb"),
            F.count(F.when(perm_hex % 2 == 1, 1)).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            (
                F.col("sa").cast("double") / F.col("na")
                - F.col("sb").cast("double") / F.col("nb")
            ).alias("delta_b")
        )
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .agg(
            F.first("delta").alias("delta"),
            F.sum(
                F.when(F.abs("delta_b") >= F.abs("delta"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
        .select(
            (F.round(F.col("delta"), 9) + F.lit(0.0)).alias("delta_obs"),
            F.lit(_PERM_B).cast("bigint").alias("n_perms"),
            "n_extreme",
            (
                F.round(
                    (F.lit(1.0) + F.col("n_extreme")) / F.lit(1 + _PERM_B), 9
                )
                + F.lit(0.0)
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_page_hinkley — running-mean drift monitor over daily means
# ---------------------------------------------------------------------------

_PH_DELTA = 0.5  # per-day drift allowance (metric units)
_PH_LAMBDA = 5.0  # alarm when m_t leaves its running minimum by this much


def ph_walk(
    daily: DataFrame,
    t0: int = 0,
    sum_m0=None,
    sum_add0=None,
    min0: float | None = None,
) -> DataFrame:
    """(day, m, t, sum_m, sum_add, ph, ph_min) rows: the Page-Hinkley
    prefix-sum walk over a (day, m) frame, continuing from prior state —
    the ONE spelling shared by q_page_hinkley (zero offsets) and the
    streaming monitor (streaming/page_hinkley.py, offsets recovered from
    its own output).

    Because the walk is pure prefix sums (no max-clamp recursion), the
    carried state can be EXACT: t is an integer, sum_m / sum_add are the
    cumulative DECIMAL(28,12) sums themselves (parquet round-trips
    decimals losslessly), and ph_min is a previously-emitted double —
    so a continued walk is bit-identical to a single-shot walk."""
    from decimal import Decimal

    wd = Window.orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, 0)
    zero = Decimal(0)
    t = (F.lit(int(t0)) + F.row_number().over(wd)).cast("bigint")
    sum_m = (
        F.lit(sum_m0 if sum_m0 is not None else zero).cast(_D2812)
        + F.sum(F.col("m").cast(_D2812)).over(wcum)
    ).cast(_D2812)
    idx = daily.select("day", "m", t.alias("t"), sum_m.alias("sum_m"))
    xbar = F.round(F.col("sum_m").cast("double") / F.col("t"), 12)
    addend = F.round(F.col("m") - xbar - F.lit(_PH_DELTA), 12).cast(_D2812)
    sum_add = (
        F.lit(sum_add0 if sum_add0 is not None else zero).cast(_D2812)
        + F.sum(addend).over(wcum)
    ).cast(_D2812)
    walk = idx.select(
        "day", "m", "t", "sum_m", sum_add.alias("sum_add")
    ).withColumn("ph", F.col("sum_add").cast("double"))
    run_min = F.min("ph").over(wcum)
    ph_min = (
        run_min if min0 is None else F.least(F.lit(float(min0)), run_min)
    )
    return walk.withColumn("ph_min", ph_min)


def ph_decisions(rows: DataFrame) -> DataFrame:
    """The shared q_page_hinkley output contract over raw walk rows."""
    return rows.select(
        "day",
        (F.round(F.col("m"), 9) + F.lit(0.0)).alias("day_mean"),
        (F.round(F.col("ph"), 9) + F.lit(0.0)).alias("ph_m"),
        (F.round(F.col("ph") - F.col("ph_min"), 9) + F.lit(0.0)).alias("deficit"),
        F.when(F.col("ph") - F.col("ph_min") > F.lit(_PH_LAMBDA), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("alarm"),
    )


@query(
    "q_page_hinkley",
    oracle=f"""
        WITH {_DAILY_SQL},
        idx AS (
          SELECT day, m, ROW_NUMBER() OVER (ORDER BY day) AS t,
                 round(CAST(SUM(CAST(m AS DECIMAL(28,12))) OVER
                              (ORDER BY day) AS DOUBLE)
                       / ROW_NUMBER() OVER (ORDER BY day), 12) AS xbar
          FROM daily
        ),
        walk AS (
          SELECT day, m, t,
                 CAST(SUM(CAST(round(m - xbar - {_PH_DELTA!r}, 12)
                               AS DECIMAL(28,12))) OVER (ORDER BY day)
                      AS DOUBLE) AS ph
          FROM idx
        ),
        mins AS (
          SELECT day, m, ph,
                 MIN(ph) OVER (ORDER BY day) AS ph_min
          FROM walk
        )
        SELECT day,
               round(m, 9) + 0.0 AS day_mean,
               round(ph, 9) + 0.0 AS ph_m,
               round(ph - ph_min, 9) + 0.0 AS deficit,
               CAST(CASE WHEN ph - ph_min > {_PH_LAMBDA!r}
                         THEN 1 ELSE 0 END AS BIGINT) AS alarm
        FROM mins
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift monitor over the daily mean metric (Page 1954;
    the stream-mining standard, e.g. Gama et al. 2014 survey):
    m_T = Σ_t (x_t − x̄_t − δ) accumulates each day's deviation from the
    RUNNING mean (δ = 0.5 tolerated drift), and the monitor alarms when
    m_T − min_t m_t > λ = 5.0 — an upward shift stops m_T falling, so
    its gap above the historical minimum grows.  Unlike q_cusum_drift
    it needs NO baseline week: the reference level is self-calibrating,
    which is what you deploy on a metric with no trusted warm-up.

    Determinism: daily means and running means are 12-dp decimal-exact
    (cumulative DECIMAL(28,12) sums over the day-ordered ≤|days| frame
    divided by the integer t); the walk addends round at 12 dp into an
    exact cumulative decimal sum — NO sequential recursion is needed
    (the running-mean form is pure prefix sums, unlike CUSUM's
    max-clamp), so both engines evaluate identical window algebra;
    outputs round at 9 dp, the alarm compares the same unrounded
    doubles to the literal λ.

    Scale shape: one map-side-combined daily aggregate; the monitor
    itself is three windows over the bounded ≤|days| frame.

    Shared spelling: the walk and output contract are the ph_walk /
    ph_decisions helpers above — ONE spelling with the streaming monitor
    (streaming/page_hinkley.py), the cusum_walk discipline."""
    return ph_decisions(ph_walk(_daily_means(spark, sf_dir)))


# ---------------------------------------------------------------------------
# q_poisson_rate — two-arm event-rate ratio test (round 10)
# ---------------------------------------------------------------------------


@query(
    "q_poisson_rate",
    oracle="""
        WITH exposure AS (
          SELECT CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                            % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
                 user_id, date_trunc('day', ts) AS day,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS c
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2, 3
        ),
        arms AS (
          SELECT variant,
                 CAST(COUNT(*) AS BIGINT) AS expo,
                 CAST(SUM(c) AS BIGINT) AS c
          FROM exposure GROUP BY variant
        ),
        wide AS (
          SELECT MAX(CASE WHEN variant = 'A' THEN c END) AS c_a,
                 MAX(CASE WHEN variant = 'A' THEN expo END) AS e_a,
                 MAX(CASE WHEN variant = 'B' THEN c END) AS c_b,
                 MAX(CASE WHEN variant = 'B' THEN expo END) AS e_b
          FROM arms
        )
        SELECT CAST(c_a AS BIGINT) AS events_a,
               CAST(e_a AS BIGINT) AS exposure_a,
               CAST(c_b AS BIGINT) AS events_b,
               CAST(e_b AS BIGINT) AS exposure_b,
               CASE WHEN c_a > 0 AND c_b > 0 AND e_a > 0 AND e_b > 0 THEN
                 round(CAST(c_a AS DOUBLE) * e_b
                       / (CAST(c_b AS DOUBLE) * e_a), 9) + 0.0
               END AS rate_ratio,
               CASE WHEN c_a > 0 AND c_b > 0 AND e_a > 0 AND e_b > 0 THEN
                 round(round(ln(CAST(c_a AS DOUBLE) * e_b
                                / (CAST(c_b AS DOUBLE) * e_a)), 12)
                       / sqrt(1.0 / c_a + 1.0 / c_b), 9) + 0.0
               END AS z
        FROM wide
        WHERE c_a IS NOT NULL OR c_b IS NOT NULL
    """,
)
def q_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm Poisson rate-ratio test over purchases per active
    user-day: exposure is each arm's count of distinct (user, day)
    active pairs, the event count is its purchases, and the Wald
    statistic on the log rate ratio is z = ln(λ_A/λ_B)/sqrt(1/c_A +
    1/c_B) — the COUNT-metric companion to q_ab_test's proportion z
    (a user can purchase many times a day; a conversion flag throws
    that away) and the constant-exposure special case of a Poisson
    regression arm contrast.

    Determinism: counts and exposures are exact integers from one
    (user, day) aggregate; the rate ratio is one integer-ratio IEEE
    tree; its runtime ln rounds at 12 dp before the division (the
    q_collocations measured-identical device) and the outputs round at
    9 dp with +0.0.  An arm with zero events or zero exposure yields
    NULL statistics via exact integer conditions; a corpus with no
    attributable users yields no row.

    Scale shape: one map-side-combined (user, day) aggregate (the only
    shuffle), an arm rollup to ≤2 rows, and a 1-row fold.  At 100 TB the
    exposure count never materializes user-day rows beyond the
    aggregate's partials."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    first_hex = F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1))
    exposure = ev.groupBy(
        F.when(first_hex % 2 == 0, "A").otherwise("B").alias("variant"),
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("c")
    )
    arms = exposure.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("expo"),
        F.sum("c").cast("bigint").alias("c"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "A", F.col("expo"))).alias("e_a"),
        F.max(F.when(F.col("variant") == "B", F.col("c"))).alias("c_b"),
        F.max(F.when(F.col("variant") == "B", F.col("expo"))).alias("e_b"),
    ).filter(F.col("c_a").isNotNull() | F.col("c_b").isNotNull())
    ok = (
        (F.col("c_a") > 0)
        & (F.col("c_b") > 0)
        & (F.col("e_a") > 0)
        & (F.col("e_b") > 0)
    )
    rr = (
        F.col("c_a").cast("double")
        * F.col("e_b")
        / (F.col("c_b").cast("double") * F.col("e_a"))
    )
    return wide.select(
        F.col("c_a").cast("bigint").alias("events_a"),
        F.col("e_a").cast("bigint").alias("exposure_a"),
        F.col("c_b").cast("bigint").alias("events_b"),
        F.col("e_b").cast("bigint").alias("exposure_b"),
        F.when(ok, F.round(rr, 9) + F.lit(0.0)).alias("rate_ratio"),
        F.when(
            ok,
            F.round(
                F.round(F.log(rr), 12)
                / F.sqrt(
                    F.lit(1.0) / F.col("c_a") + F.lit(1.0) / F.col("c_b")
                ),
                9,
            )
            + F.lit(0.0),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# q_breslow_day — homogeneity of the stratum odds ratios (round 10)
# ---------------------------------------------------------------------------

_BD_ELIGIBLE_SQL = "a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0"


@query(
    "q_breslow_day",
    oracle=f"""
        WITH {_GS_ASSIGN_SQL},
        {_CMH_STRATA_SQL},
        psi AS (
          SELECT CAST(SUM(CAST(round(CAST(a AS DOUBLE) * d
                                     / (a + b + c + d), 12)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / CAST(SUM(CAST(round(CAST(b AS DOUBLE) * c
                                       / (a + b + c + d), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS psi
          FROM strata WHERE a + b + c + d > 1
          HAVING SUM(CAST(round(CAST(b AS DOUBLE) * c
                                / (a + b + c + d), 12)
                          AS DECIMAL(28,12))) > 0
             AND SUM(CAST(round(CAST(a AS DOUBLE) * d
                                / (a + b + c + d), 12)
                          AS DECIMAL(28,12))) > 0
        ),
        solved AS (
          SELECT a,
                 CASE WHEN psi = 1.0 THEN r1 * c1 / nt
                      WHEN (-bq + sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi)) > lo
                       AND (-bq + sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi)) < hi
                      THEN (-bq + sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi))
                      WHEN (-bq - sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi)) > lo
                       AND (-bq - sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi)) < hi
                      THEN (-bq - sqrt(GREATEST(bq * bq
                             + 4.0 * (1.0 - psi) * psi * r1 * c1, 0.0)))
                             / (2.0 * (1.0 - psi))
                 END AS ee,
                 r1, c1, nt, psi
          FROM (
            SELECT a, psi,
                   CAST(a + b AS DOUBLE) AS r1,
                   CAST(a + c AS DOUBLE) AS c1,
                   CAST(a + b + c + d AS DOUBLE) AS nt,
                   (CAST(a + b + c + d AS DOUBLE) - (a + b) - (a + c))
                     + psi * ((a + b) + (a + c)) AS bq,
                   GREATEST(0.0, CAST(a + b AS DOUBLE) + (a + c)
                            - (a + b + c + d)) AS lo,
                   LEAST(CAST(a + b AS DOUBLE), CAST(a + c AS DOUBLE)) AS hi
            FROM strata, psi
            WHERE {_BD_ELIGIBLE_SQL}
          )
        ),
        terms AS (
          SELECT psi,
                 round((a - ee) * (a - ee)
                       * (1.0 / ee + 1.0 / (r1 - ee) + 1.0 / (c1 - ee)
                          + 1.0 / (nt - r1 - c1 + ee)), 12) AS t
          FROM solved WHERE ee IS NOT NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               round(psi, 9) + 0.0 AS or_mh,
               round(CAST(SUM(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 9)
                 + 0.0 AS bd_chi2
        FROM terms GROUP BY psi HAVING COUNT(*) > 0
    """,
)
def q_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day test of odds-ratio HOMOGENEITY across the CMH strata
    (Breslow & Day 1980, §IV.4): q_mantel_haenszel assumes one common
    odds ratio pools legitimately — this is the test of that
    assumption.  Per stratum the expected count ã under the MH common
    odds ratio ψ solves the quadratic (1−ψ)ã² + Bã − ψ·r1·c1 = 0 (the
    in-range root with B = (N−r1−c1) + ψ(r1+c1)); the statistic
    Σ (a−ã)²·(1/ã + 1/(r1−ã) + 1/(c1−ã) + 1/(N−r1−c1+ã)) is χ² with
    n_strata−1 df under homogeneity.  Large values mean the "common"
    odds ratio is a fiction and the stratified report should be read
    per-stratum.

    Determinism: the 2×2 cells are exact integers; ψ is the identical
    MH fold both engines already share (12-dp addends, DECIMAL(28,12)
    sums, one IEEE division — used UNROUNDED so both engines branch and
    solve identically); the quadratic root selection is an exact-range
    CASE on one shared IEEE tree (the ψ = 1 branch is the exact linear
    case), strata with a zero margin or no in-range root are excluded
    by identical conditions; per-stratum terms round at 12 dp into
    DECIMAL(28,12); finals round at 9 dp with +0.0.

    Scale shape: the same one per-user aggregate as q_mantel_haenszel,
    then everything folds on ≤|strata| rows crossed with the 1-row ψ."""
    strata = cmh_strata(load_table(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )
    nt = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    mh = strata.filter(nt > 1).agg(
        F.sum(F.round(F.col("a").cast("double") * F.col("d") / nt, 12).cast(_D2812))
        .alias("sum_r"),
        F.sum(F.round(F.col("b").cast("double") * F.col("c") / nt, 12).cast(_D2812))
        .alias("sum_s"),
    )
    psi_frame = mh.filter((F.col("sum_r") > 0) & (F.col("sum_s") > 0)).select(
        (F.col("sum_r").cast("double") / F.col("sum_s").cast("double")).alias(
            "psi"
        )
    )
    eligible = strata.filter(
        (F.col("a") + F.col("b") > 0)
        & (F.col("c") + F.col("d") > 0)
        & (F.col("a") + F.col("c") > 0)
        & (F.col("b") + F.col("d") > 0)
    ).crossJoin(F.broadcast(psi_frame))
    r1 = (F.col("a") + F.col("b")).cast("double")
    c1 = (F.col("a") + F.col("c")).cast("double")
    ntd = nt.cast("double")
    prep = eligible.select(
        "a",
        "psi",
        r1.alias("r1"),
        c1.alias("c1"),
        ntd.alias("nt"),
        ((ntd - r1 - c1) + F.col("psi") * (r1 + c1)).alias("bq"),
        F.greatest(F.lit(0.0), r1 + c1 - ntd).alias("lo"),
        F.least(r1, c1).alias("hi"),
    )
    sq = F.sqrt(
        F.greatest(
            F.col("bq") * F.col("bq")
            + F.lit(4.0)
            * (F.lit(1.0) - F.col("psi"))
            * F.col("psi")
            * F.col("r1")
            * F.col("c1"),
            F.lit(0.0),
        )
    )
    e1 = (-F.col("bq") + sq) / (F.lit(2.0) * (F.lit(1.0) - F.col("psi")))
    e2 = (-F.col("bq") - sq) / (F.lit(2.0) * (F.lit(1.0) - F.col("psi")))
    in_range = lambda e: (e > F.col("lo")) & (e < F.col("hi"))  # noqa: E731
    ee = (
        F.when(F.col("psi") == 1.0, F.col("r1") * F.col("c1") / F.col("nt"))
        .when(in_range(e1), e1)
        .when(in_range(e2), e2)
    )
    solved = prep.select("a", "psi", "r1", "c1", "nt", ee.alias("ee")).filter(
        F.col("ee").isNotNull()
    )
    dev = F.col("a") - F.col("ee")
    inv_v = (
        F.lit(1.0) / F.col("ee")
        + F.lit(1.0) / (F.col("r1") - F.col("ee"))
        + F.lit(1.0) / (F.col("c1") - F.col("ee"))
        + F.lit(1.0) / (F.col("nt") - F.col("r1") - F.col("c1") + F.col("ee"))
    )
    terms = solved.select(
        "psi", F.round(dev * dev * inv_v, 12).alias("t")
    )
    return (
        terms.groupBy("psi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_strata"),
            F.sum(F.col("t").cast(_D2812)).cast("double").alias("bd_raw"),
        )
        .filter(F.col("n_strata") > 0)
        .select(
            "n_strata",
            (F.round(F.col("psi"), 9) + F.lit(0.0)).alias("or_mh"),
            (F.round(F.col("bd_raw"), 9) + F.lit(0.0)).alias("bd_chi2"),
        )
    )


# ---------------------------------------------------------------------------
# q_cochran_armitage — trend in conversion across ordered entry cohorts
# ---------------------------------------------------------------------------


@query(
    "q_cochran_armitage",
    oracle=f"""
        WITH {_GS_ASSIGN_SQL},
        weeks AS (
          SELECT user_id % 4 AS w,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(converted) AS BIGINT) AS r
          FROM assign GROUP BY 1
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(n) AS BIGINT) AS nn,
                 CAST(SUM(r) AS BIGINT) AS rr,
                 CAST(SUM(w * n) AS BIGINT) AS sxn,
                 CAST(SUM(w * w * n) AS BIGINT) AS sxxn,
                 CAST(SUM(w * r) AS BIGINT) AS sxr
          FROM weeks
        )
        SELECT k AS n_cohorts, nn AS n_users, rr AS n_converted,
               CASE WHEN rr > 0 AND rr < nn AND k > 1
                         AND nn * sxxn - sxn * sxn > 0 THEN
                 round((CAST(sxr AS DOUBLE) - CAST(rr AS DOUBLE) * sxn / nn)
                       / sqrt(CAST(rr AS DOUBLE) / nn
                              * (1 - CAST(rr AS DOUBLE) / nn)
                              * (CAST(sxxn AS DOUBLE)
                                 - CAST(sxn AS DOUBLE) * sxn / nn)), 9) + 0.0
               END AS z_trend
        FROM tot WHERE nn > 0
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for a
    MONOTONE drift in conversion across the ORDERED site strata (the
    q_mantel_haenszel / q_breslow_day 4-way user_id-modulus site index
    as the ordinal score): T = Σ x_w(r_w − n_w·p̄) with
    Var = p̄(1−p̄)(Σx²n − (Σxn)²/N), z = T/sqrt(Var) — completing the
    stratified triple: CMH asks "is there an arm effect controlling for
    site?", Breslow-Day asks "is that effect homogeneous?", and
    Cochran-Armitage asks "does the OUTCOME ITSELF trend across the
    ordered site index?" — the ordered-alternative test a k-site
    chi-square (which ignores the ordering) underpowers.

    Determinism: site counts and all score moments are exact integers
    (scores are the raw 0..3 site indexes, so Σxn / Σx²n / Σxr stay
    BIGINT-exact); p̄ is one int/int division and z one identical IEEE
    tree rounded at 9 dp with +0.0.  All-converted, none-converted,
    single-site, or zero-score-variance corpora yield NULL z by exact
    integer conditions; an empty corpus yields no row.

    Scale shape: one per-user aggregate (shared gs_assignments
    spelling), a 4-row rollup, a 1-row fold."""
    assign = gs_assignments(load_table(spark, sf_dir, "events"))
    weeks = assign.groupBy((F.col("user_id") % 4).alias("w")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("r"),
    )
    tot = weeks.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("w") * F.col("n")).cast("bigint").alias("sxn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).cast("bigint").alias("sxxn"),
        F.sum(F.col("w") * F.col("r")).cast("bigint").alias("sxr"),
    ).filter(F.col("nn") > 0)
    pbar = F.col("rr").cast("double") / F.col("nn")
    ok = (
        (F.col("rr") > 0)
        & (F.col("rr") < F.col("nn"))
        & (F.col("k") > 1)
        & (F.col("nn") * F.col("sxxn") - F.col("sxn") * F.col("sxn") > 0)
    )
    z = (
        F.col("sxr").cast("double")
        - F.col("rr").cast("double") * F.col("sxn") / F.col("nn")
    ) / F.sqrt(
        pbar
        * (1 - pbar)
        * (
            F.col("sxxn").cast("double")
            - F.col("sxn").cast("double") * F.col("sxn") / F.col("nn")
        )
    )
    return tot.select(
        F.col("k").alias("n_cohorts"),
        F.col("nn").alias("n_users"),
        F.col("rr").alias("n_converted"),
        F.when(ok, F.round(z, 9) + F.lit(0.0)).alias("z_trend"),
    )
