"""Extended relational surface: operators Spark has no single built-in for
(as-of join, banded range join) plus pivot / grouping sets / lateral explode /
deterministic moment statistics / quality-keeper dedup.

The reference (uswitch/bifrost) has none of these (SURVEY.md §2 Part A′);
they round out the engine's batch mandate.  The as-of and range joins are
implemented in their 100 TB shapes: a single shuffle on the equi-key
(union + ignore-nulls window) for as-of, and time-band bucketing for the
range join — never a broadcast-nested-loop over an inequality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.operators.vectors import sql_literal
from bifrost_spark.queries._util import sql_dsum
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

RANGE_MINUTES = 30
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "q_join_asof",
    oracle="""
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               c.event_id AS click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: for each purchase, the latest click by the same
    user at-or-before its timestamp.

    Spark lacks ASOF JOIN; the scalable shape is union + ignore-nulls window:
    tag both sides, sort within user by (ts, side) with the right side first
    at ties, and carry the last non-null click id forward.  ONE shuffle on
    the equi-key, no per-row range probe — survives any key cardinality,
    unlike an inequality join (broadcast-nested-loop) or a per-key collect.
    Oracle: DuckDB's native ASOF JOIN (independent implementation).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"), F.lit(0).alias("side"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"), F.lit(1).alias("side"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("asof_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("asof_click").alias("click_id"),
        )
    )


@query(
    "q_join_range",
    oracle=f"""
        SELECT a.event_id AS event_a, b.event_id AS event_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts < a.ts
         AND b.ts >= a.ts - INTERVAL {RANGE_MINUTES} MINUTE
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: pairs of events by the same user within a
    30-minute lookback window.

    Naive inequality joins become broadcast-nested-loop (O(n·m) per key) —
    unusable at scale.  Banding: bucket ts into window-sized bands, explode
    the probe side into (band, band−1), join on (user, band) EQUALITY, then
    refine with the exact inequality.  Catalyst gets an equi-join it can
    hash-partition; each pair is examined in exactly one band, and work
    scales with true match volume.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    band_us = RANGE_MINUTES * 60 * 1_000_000
    band = (F.unix_micros(F.col("ts")) / F.lit(band_us)).cast("bigint")
    a = ev.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(band, band - 1)).alias("band"),
    )
    b = ev.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("ts").alias("ts_b"),
        band.alias("band"),
    )
    return (
        a.join(b, ["user_id", "band"])
        .filter(
            (F.col("ts_b") < F.col("ts_a"))
            & (F.col("ts_b") >= F.col("ts_a") - F.expr(f"INTERVAL {RANGE_MINUTES} MINUTE"))
        )
        .select("event_a", "event_b")
        .dropDuplicates(["event_a", "event_b"])
    )


@query(
    "q_pivot",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
        FROM events
        GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts, one column per event type.
    The pivot values are declared explicitly — at scale an undeclared pivot
    forces an extra distinct-scan job to discover them."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in EVENT_TYPES],
    )


@query(
    "q_grouping_sets",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS grp_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        HAVING COUNT(*) > 0  -- empty-relation alignment, see q_rollup
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube) with GROUPING() id to
    disambiguate natural NULLs from subtotal NULLs.

    Spelled as a FINE (flag, status) aggregate whose ~|groups| partials are
    then ROLLUP'd, instead of the literal GROUPING SETS plan: Spark
    implements grouping sets as Expand (input ×3) feeding one aggregate,
    tripling the scan-side work, whereas ((f,s),(f),()) ≡ ROLLUP(f,s), and
    counts/decimal sums are associative — so the Expand now multiplies ~10
    pre-aggregated rows, not 600 k input rows (guide §2.3 "aggregate before
    you shuffle"; measured 0.92 → 0.35 s at sf0.1, and the Expand removal
    is a 3× on the heaviest stage at any scale).  GROUPING_ID values (0
    fine, 1 flag-subtotal, 3 grand total), natural-NULL handling, and the
    empty-input behavior (no rows — grouping keys are never empty in
    either Expand plan) are identical by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(28,6)"
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("fn"),
        F.sum(F.col("l_quantity").cast(dec)).alias("sq"),
    )
    return (
        fine.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("grp_id"),
            F.sum("fn").cast("bigint").alias("n"),
            F.sum("sq").cast("double").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "grp_id", "n", "sum_qty")
    )


@query(
    "q_explode_tokens",
    oracle="""
        SELECT doc_id,
               CAST(i - 1 AS BIGINT) AS pos,
               sp[CAST(i AS INT)] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             UNNEST(range(1, len(sp) + 1)) AS t(i)
        WHERE sp[CAST(i AS INT)] <> ''
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UDTF analog): one row per whitespace token with its
    position.  posexplode is the built-in generator — the scan pipelines into
    it with no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ", -1)).alias("pos", "token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token")
    )


@query(
    "q_agg_stats",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty,
               -- singleton groups have no sample variance: NULL, the
               -- SQL-standard var_samp result (fuzzer finding — the
               -- unguarded n·(n−1) divisor is 0 when n = 1)
               CASE WHEN COUNT(*) > 1 THEN
                 (CAST(COUNT(*) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1))
               END AS var_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics with an engine-bit-stable sample variance:
    var = (n·Σx² − (Σx)²) / (n·(n−1)) where Σx and Σx² accumulate in DECIMAL
    (exact — l_quantity is integer-valued, so every intermediate is an exact
    integer below 2^53) and the final arithmetic is a fixed sequence of IEEE
    double ops.  Native stddev/var aggregates are order-dependent in both
    engines and would not hash-match."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(28,6)"
    n = F.count("*").cast("double")
    s = F.sum(F.col("l_quantity").cast(dec)).cast("double")
    ssq = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast(dec)).cast("double")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        # n = 1 → no sample variance: NULL (var_samp semantics) on both
        # engines; unguarded, ANSI aborts on the n·(n−1) = 0 divisor
        # (fuzzer finding)
        F.when(
            F.count("*") > 1, (n * ssq - s * s) / (n * (n - F.lit(1.0)))
        ).alias("var_qty"),
    )


@query(
    "q_window_range_frame",
    oracle="""
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rolling_10m_sum
        FROM events
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed analytic window: per-user rolling 10-minute value sum —
    value-based frames (all rows within the interval), not row-count frames.
    Spark's rangeBetween needs a numeric sort key, so ts becomes epoch
    microseconds (both engines order identically); the sum accumulates in
    DECIMAL for order-independence.  The per-user frame is bounded by event
    rate × 10 min, so state stays O(frame) at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_10m_sum"),
    )


@query(
    "q_window_lead_lag",
    oracle="""
        SELECT event_id,
               user_id,
               LAG(value) OVER w AS prev_value,
               LEAD(value) OVER w AS next_value,
               FIRST_VALUE(event_id) OVER w AS first_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset window functions (lag/lead/first_value) over per-user event
    timelines — the building block of funnel/attribution queries.  Ordering
    includes event_id so ties are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_id").over(w).alias("first_event"),
    )


@query(
    "q_ntile",
    oracle="""
        SELECT c_custkey,
               CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
                 AS balance_quartile
        FROM customer
    """,
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles by account balance (unique-key tie-break), spelled
    WITHOUT the single-partition global window (`F.ntile` over an
    unpartitioned order — round-2 VERDICT's standing scale-killer):

      1. one cheap aggregate gets ~32 approx_percentile range boundaries
         (they only balance parallelism — correctness never depends on
         them, since equal balances always share a range bucket);
      2. the ONLY full-data shuffle partitions by range bucket; each
         bucket sorts locally for a per-bucket row_number (32-way
         parallel, bounded memory — never all rows in one task);
      3. per-bucket counts (tiny aggregate) become broadcast literal
         offsets: global rank = bucket offset + local row_number;
      4. the exact NTILE arithmetic (first N%4 buckets one row larger)
         is a per-row expression from (rank, total).

    Equivalent plan shape to a groupBy — this is the 100 TB spelling the
    docstring previously only promised.  A negative plan test pins
    'no Exchange SinglePartition' (tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    n_parts = 32
    probs = ", ".join(str(i / n_parts) for i in range(1, n_parts))
    bounds_row = c.agg(
        F.expr(f"approx_percentile(c_acctbal, array({probs}), 10000)").alias("b")
    ).collect()[0].b
    bounds = sorted({float(b) for b in (bounds_row or [])}, reverse=True)
    # range bucket id, consistent with the DESC global order: number of
    # boundaries strictly above this row's balance (ties share a bucket)
    part_expr = (
        F.aggregate(
            F.expr(sql_literal(bounds)),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("c_acctbal") < b, 1).otherwise(0),
        )
        if bounds
        else F.lit(0)
    )
    bucketed = c.withColumn("part", part_expr)

    counts = {r.part: r.n for r in bucketed.groupBy("part").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()}
    total = sum(counts.values())
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    # empty-table guard (fuzzer finding): F.create_map() with no entries
    # types as map<void,void> and map()[part] fails analysis
    offset_col = (
        F.expr(sql_literal(offsets))[F.col("part")]
        if offsets
        else F.lit(0)
    )

    w = Window.partitionBy("part").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    ranked = bucketed.withColumn(
        "r", (F.row_number().over(w) + offset_col).cast("bigint")
    )
    q, rem = divmod(total, 4)
    if q == 0:  # fewer rows than buckets: NTILE gives one row per bucket
        quartile = F.col("r")
    else:
        cutoff = rem * (q + 1)
        quartile = F.when(
            F.col("r") <= F.lit(cutoff), F.ceil(F.col("r") / F.lit(q + 1))
        ).otherwise(F.lit(rem) + F.ceil((F.col("r") - F.lit(cutoff)) / F.lit(q)))
    return ranked.select(
        "c_custkey", quartile.cast("bigint").alias("balance_quartile")
    )


@query(
    "q_string_agg",
    oracle="""
        SELECT n_name,
               string_agg(c_name, ',' ORDER BY c_name) AS members
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group.  collect_list has no intra-group
    order guarantee under partial aggregation, so sort_array pins it —
    deterministic at any partition count."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("members")
        )
    )


@query(
    "q_median",
    oracle="""
        SELECT l_returnflag,
               median(l_quantity) AS med_qty,
               quantile_disc(l_quantity, 0.9) AS p90_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + discrete 90th percentile per group.  l_quantity is
    integer-valued, so the even-count midpoint average is exact in double —
    engine-bit-stable.  (The streaming-friendly approximate twin is
    approx_percentile, covered by q_agg_approx's rows-only pattern.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)").alias(
            "p90_qty"
        ),
    )


@query(
    "q_composite_report",
    oracle="""
        SELECT o_orderpriority,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                    AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
        ORDER BY revenue DESC, o_orderpriority, order_month
        LIMIT 10
    """,
)
def q_composite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pipeline (TPC-H Q3 shape): selective dimension filter →
    two fact joins → hash aggregate with distinct → total sort → top-k.
    The segment filter prunes customer BEFORE the join (Catalyst pushes it
    into the scan), the joins shuffle on their keys with AQE sizing, and
    the final sort is a top-10 TakeOrdered, not a full sort.  Ties broken
    on the full key chain for a deterministic LIMIT."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r11 note: a per-order pre-aggregation of lineitem revenue (guide
    # §2.3 "aggregate before you shuffle", removing the COUNT(DISTINCT)
    # expand) was implemented, oracle-verified at all three SFs, and
    # A/B-measured SLOWER isolated (0.86→1.37 s; 0.94 s with a pinned
    # keyed spread): the existing plan's map-side distinct partial over
    # (priority, month, orderkey) already folds the 600 k join rows
    # before the one small exchange, so the extra pre-agg exchange buys
    # nothing here.  Kept as-is; see OPTIMIZATION_r11.md.
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("order_month"),
        )
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderpriority"), F.asc("order_month"))
        .limit(10)
    )


@query(
    "q_subquery_scalar",
    oracle="""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
          FROM customer
        )
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (customers above the mean balance).
    Catalyst executes the subquery once and broadcasts the scalar.  The mean
    uses the decimal-accumulated average so the threshold is bit-identical
    in both engines (a raw AVG(double) could flip membership of a customer
    within 1 ulp of the mean)."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer_sq
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
          FROM customer_sq
        )
        """
    )


@query(
    "q_udf_pandas",
    oracle="""
        SELECT doc_id,
               lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS norm_text
        FROM documents
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF (Arrow-batched text normalization).

    Demonstrates the engine's sanctioned Python escape hatch: batch-at-a-time
    pandas string kernels, never row-at-a-time Python.  The same expression
    exists as built-ins (lower/trim/regexp_replace) — the UDF form is the
    template for normalizations Spark lacks; here it is oracle-checked
    against the built-in semantics."""
    from pyspark.sql.functions import pandas_udf

    # functional form: `from __future__ import annotations` stringifies
    # signature annotations, which pandas_udf cannot resolve here
    norm = pandas_udf(
        lambda s: s.str.replace(r" +", " ", regex=True).str.strip().str.lower(),
        "string",
    )

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", norm(F.col("text")).alias("norm_text"))


@query(
    "q_histogram",
    oracle="""
        SELECT CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(c_acctbal) AS lo,
               MAX(c_acctbal) AS hi
        FROM customer
        GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by arithmetic bucketing — a groupBy on a
    derived key, so partial aggregation applies and shuffle volume is
    |buckets|.  The same shape at 100 TB powers distribution profiling of
    any numeric column."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
    )


@query(
    "q_json_schema",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN json_valid(props) THEN
                      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS sum_k
        FROM events
        WHERE props IS NOT NULL
        GROUP BY event_type
    """,
)
def q_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing: ``from_json`` with an explicit struct
    schema (JsonToStructs — vectorizable, typed, fails fast on drift),
    versus q_json_extract's schema-less get_json_object path.  Aggregating
    the parsed field proves the struct column composes with downstream
    relational ops.

    Junk tolerance (fuzzer finding): from_json's default PERMISSIVE mode
    already NULLs malformed documents and mistyped fields, so rows stay
    counted in n while their k drops out of sum_k; the oracle mirrors
    with json_valid + TRY_CAST (DuckDB raises on malformed JSON)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    parsed = ev.withColumn("j", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("j.k")).alias("sum_k"),
    )


@query(
    "q_null_semantics",
    oracle="""
        SELECT a.c_custkey,
               b.c_custkey AS other_key,
               COALESCE(a.c_acctbal, 0.0) AS bal_or_zero,
               (a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal) AS same_bal
        FROM (SELECT c_custkey,
                     CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS c_acctbal
              FROM customer) a
        JOIN (SELECT c_custkey,
                     CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS c_acctbal
              FROM customer) b
          ON b.c_custkey = a.c_custkey + 1
        ORDER BY a.c_custkey
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface: NULL injection via CASE, COALESCE defaulting,
    and null-safe equality (Spark ``eqNullSafe`` = SQL IS NOT DISTINCT
    FROM — NULL<=>NULL is true, unlike ``=``).  The adjacent-key self-join
    keeps the pairing deterministic."""
    c = load_table(spark, sf_dir, "customer")
    nulled = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
    )
    a = nulled.alias("a")
    b = nulled.alias("b")
    return (
        a.join(b, F.col("b.c_custkey") == F.col("a.c_custkey") + 1)
        .select(
            F.col("a.c_custkey").alias("c_custkey"),
            F.col("b.c_custkey").alias("other_key"),
            F.coalesce(F.col("a.c_acctbal"), F.lit(0.0)).alias("bal_or_zero"),
            F.col("a.c_acctbal").eqNullSafe(F.col("b.c_acctbal")).alias("same_bal"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_date_arith",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
               CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS review_date,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
               CAST(date_part('quarter', o_orderdate) AS BIGINT) AS order_quarter,
               CAST(date_part('dow', o_orderdate) AS BIGINT) AS day_of_week,
               CAST((2000 * 12 + 1) - (YEAR(o_orderdate) * 12 + MONTH(o_orderdate))
                    AS BIGINT) AS months_to_y2k
        FROM orders
    """,
)
def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic: day and month interval addition (month
    addition clamps to month end — both engines agree), last_day, quarter
    and day-of-week extraction, calendar-month distance (year*12+month
    arithmetic — identical in both engines; DuckDB lacks months_between and
    its date_diff counts boundary crossings, a different semantic).
    day-of-week is normalized to DuckDB's Sunday=0 convention (Spark
    dayofweek is Sunday=1)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("review_date"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("day_of_week"),
        (
            F.lit(2000 * 12 + 1)
            - (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        )
        .cast("bigint")
        .alias("months_to_y2k"),
    )


@query("q_agg_approx_quantile", oracle=None)  # sketch-specific → rows-only
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via approx_percentile (Greenwald-Khanna
    sketch, mergeable partial state — the streaming/partitioned-safe twin of
    the exact q_median).  accuracy=10000 bounds rank error at 1/10000·n.
    tests/test_sketch_quality.py asserts closeness to the exact percentiles.

    The sketch's percentile array is exploded to one (percentile, value) row
    each: the external checker canonicalizes via pandas sort/hash, which
    cannot handle array cells."""
    li = load_table(spark, sf_dir, "lineitem")
    sketch = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_quantity, array(0.5, 0.9, 0.99), 10000)"
        ).alias("approx_q"),
        F.count("*").alias("n"),
    )
    pcts = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    return sketch.select(
        "l_returnflag",
        F.posexplode("approx_q").alias("pos", "value"),
        "n",
    ).select(
        "l_returnflag",
        pcts[F.col("pos")].alias("percentile"),
        F.col("value"),
        "n",
    )


@query(
    "q_corr",
    oracle="""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(l_extendedprice / 1000.0 AS DECIMAL(28,6)))
                      AS DOUBLE) AS sy,
                 CAST(SUM(CAST(l_quantity * (l_extendedprice / 1000.0)
                               AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                      AS DOUBLE) AS sxx,
                 CAST(SUM(CAST((l_extendedprice / 1000.0)
                               * (l_extendedprice / 1000.0)
                               AS DECIMAL(28,6))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY l_returnflag
        )
        -- zero-variance guard: Pearson is undefined for a constant column
        -- (or a single row per group) — NULL, identically on both engines
        SELECT l_returnflag,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN (n * sxy - sx * sy)
                         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
               END AS qty_price_corr
        FROM m
    """,
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal moments:
    corr = (n·Σxy − Σx·Σy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)).
    Price is pre-scaled by 1/1000 (correlation is scale-invariant) so every
    decimal sum stays below 2^53 in scaled-integer terms — above that, the
    two engines' decimal→double conversions can differ in the last ulp.
    The per-row double math and decimal roundings are identical in both
    engines, so the result hash-matches — unlike native corr(), whose
    one-pass co-moment accumulation is order-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(28,6)"
    px = F.col("l_extendedprice") / 1000.0
    n = F.count("*").cast("double")
    sx = F.sum(F.col("l_quantity").cast(dec)).cast("double")
    sy = F.sum(px.cast(dec)).cast("double")
    sxy = F.sum((F.col("l_quantity") * px).cast(dec)).cast("double")
    sxx = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast(dec)).cast("double")
    syy = F.sum((px * px).cast(dec)).cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    # zero-variance guard (fuzzer finding): constant column / single-row
    # group → Pearson undefined → NULL (Spark ANSI would throw; DuckDB
    # floats to NaN)
    corr = F.when((vx > 0) & (vy > 0), (n * sxy - sx * sy) / F.sqrt(vx * vy))
    return li.groupBy("l_returnflag").agg(corr.alias("qty_price_corr"))


@query(
    "q_dedup_keep_best",
    oracle="""
        SELECT doc_id, text_hash FROM (
          SELECT doc_id, md5(text) AS text_hash,
                 ROW_NUMBER() OVER (
                   PARTITION BY md5(text)
                   ORDER BY n_chars DESC, doc_id
                 ) AS rn
          FROM documents
        ) WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup keeping the best representative per content group (longest doc,
    doc_id tie-break) — the keeper policy real training-data pipelines use
    instead of MIN(id).  Window over the 16-byte content hash; text never
    shuffles."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text_hash").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "n_chars", F.md5("text").alias("text_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash")
    )


# median per-user inter-event gap in the fixture is ~26k s; 8h keeps a
# genuine matched/stale mix on both sides of the cut
ASOF_TOLERANCE_SECS = 28_800


@query(
    "q_join_asof_tol",
    oracle=f"""
        WITH clicks AS (
          SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id AS purchase_id,
               p.user_id,
               CASE WHEN c.ts IS NOT NULL
                         AND p.ts - c.ts <= INTERVAL {ASOF_TOLERANCE_SECS} SECONDS
                    THEN c.event_id END AS click_id
        FROM purchases p
        ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas ``merge_asof(tolerance=...)``
    semantics): the latest click at-or-before each purchase, but only if
    it happened within the tolerance window — stale matches become NULL
    rather than attributing a purchase to a click from hours ago.

    Same union + ignore-nulls-window shape as q_join_asof (ONE shuffle on
    the equi-key, no range probe), carrying the matched click's (ts, id)
    as a struct so the tolerance test runs on the carried timestamp.
    Oracle: DuckDB's native ASOF LEFT JOIN with a post-join tolerance
    CASE — an independent implementation of the same semantics."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.struct("ts", F.col("event_id").alias("click_id")).alias("c"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(0).alias("side"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("struct<ts:timestamp,click_id:bigint>").alias("c"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.col("c.click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn("asof", F.last("c", ignorenulls=True).over(w))
    in_tol = (
        F.col("asof").isNotNull()
        & (
            F.col("ts").cast("long") - F.col("asof.ts").cast("long")
            <= ASOF_TOLERANCE_SECS
        )
    )
    return (
        carried.filter(F.col("side") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.when(in_tol, F.col("asof.click_id")).alias("click_id"),
        )
    )
