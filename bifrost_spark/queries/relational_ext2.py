"""Second extension wave of the relational surface: subquery flavors
(EXISTS / NOT IN), unpivot, regex extraction, distribution window functions
(percent_rank / cume_dist / nth_value), min_by/max_by argmax aggregation,
conditional aggregation, and ordered array collection.

Like relational_ext.py these go beyond the reference's A-surface
(uswitch/bifrost has no query engine at all — SURVEY.md §2 Part A′); they
complete the SQL surface a user would expect when replacing the reference's
downstream consumers.  Every query here is DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.queries._util import (
    HASH_BUCKETS_PROD,
    hash_bucket,
    sql_dsum,
    sql_hash_bucket,
)
from bifrost_spark.registry import query
from bifrost_spark.tables import load_table


@query(
    "q_subquery_exists",
    oracle="""
        SELECT o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o.o_orderpriority
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): orders with at least one line
    shipped after the order date, counted per priority.

    Spark plan: EXISTS decorrelates to a LEFT SEMI hash join on the
    equi-part of the predicate (l_orderkey = o_orderkey) with the
    inequality as a join residual — one shuffle on orderkey, then a
    map-side-combined count.  No per-row subquery execution anywhere."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    hit = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return hit.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "q_subquery_not_in",
    oracle="""
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey NOT IN (
          SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
        )
    """,
)
def q_subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery: parts never ordered in a quantity-49+ line.

    ``l_partkey`` is non-nullable in the fixture, so NOT IN ≡ anti join;
    Spark plans the anti join as one hash shuffle on partkey (with a
    nullable subquery column Spark would switch to a null-aware anti join
    — same API, stricter plan — which is exactly SQL's three-valued NOT IN
    semantics)."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return p.join(
        l, p.p_partkey == l.l_partkey, "left_anti"
    ).select("p_partkey", "p_name")


@query(
    "q_unpivot",
    oracle="""
        SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
        FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of two part attributes.

    Uses the native ``DataFrame.unpivot`` (Spark's UNPIVOT/stack) — a pure
    narrow map (each input row emits |values| rows), no shuffle at any
    scale.  Oracle spelled as UNION ALL, the engine-portable equivalent."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")


@query(
    "q_regex_extract",
    oracle="""
        SELECT c_custkey,
               regexp_extract(c_name, '([0-9]+)', 1) AS cust_num,
               regexp_replace(c_name, '[0-9]', '#', 'g') AS masked
        FROM customer
        WHERE regexp_matches(c_name, '[0-9]')
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/masking/filtering over customer names.

    Patterns restricted to the common subset of Java regex (Spark) and RE2
    (DuckDB) — char classes + capture groups — so both engines agree.
    Per-row narrow ops, codegen'd JVM-side; no Python in the loop."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").rlike("[0-9]")).select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("cust_num"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
    )


@query(
    "q_window_distribution",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               nth_value(c_custkey, 2) OVER (
                 PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS second_richest
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist, nth_value.

    percent_rank = (rank−1)/(N−1) and cume_dist = peers≤x / N are single
    IEEE divisions of exact integers — bit-identical across engines; the
    (c_acctbal, c_custkey) order key is unique so ranks are deterministic.
    One shuffle on the partition key, same as any window."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_richest"),
    )


@query(
    "q_min_max_by",
    oracle="""
        SELECT c_mktsegment,
               max(CASE WHEN rn_desc = 1 THEN c_name END) AS richest,
               max(CASE WHEN rn_asc = 1 THEN c_name END) AS poorest,
               max(c_acctbal) AS max_bal
        FROM (
          SELECT *,
                 row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey DESC) AS rn_desc,
                 row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal ASC, c_custkey ASC) AS rn_asc
          FROM customer
        )
        GROUP BY c_mktsegment
    """,
)
def q_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation: the customer name at each segment's
    max/min balance, via native ``max_by``/``min_by``.

    The ordering key is the STRUCT (c_acctbal, c_custkey) — lexicographic
    struct comparison breaks balance ties by the unique key, making the
    winner deterministic (bare max_by with a tied key is nondeterministic
    everywhere).  Map-side-combinable single-shuffle agg.  DuckDB's max_by
    rejects struct keys, so the oracle is an independent window-based
    spelling with the identical tie-break."""
    c = load_table(spark, sf_dir, "customer")
    key = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
        F.max("c_acctbal").alias("max_bal"),
    )


@query(
    "q_cond_agg",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
                 AS n_big,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                 AS n_filled,
               {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END", "open_value")},
               CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                 AS BIGINT) AS n_big_custs
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: FILTER-clause counts, CASE-gated sums, and
    a filtered COUNT(DISTINCT) in one pass.

    All conditions evaluate inside the same map-side partial aggregate —
    one shuffle total (the distinct adds Spark's expand+regroup, still one
    logical pass over orders).  The double sum accumulates in DECIMAL for
    order-independence (see _util)."""
    from bifrost_spark.queries._util import dsum

    o = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return o.groupBy("o_orderpriority").agg(
        F.count_if(big).alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_filled"),
        dsum(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0),
            "open_value",
        ),
        F.count_distinct(F.when(big, F.col("o_custkey"))).alias("n_big_custs"),
    )


@query(
    "q_collect_sorted",
    oracle="""
        SELECT r.r_name AS region,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array collection: each region's nation names as a sorted
    array.  ``collect_list`` order is partition-dependent in Spark, so the
    deterministic form is collect-then-``array_sort`` — the result is then
    independent of shuffle layout (and of DuckDB's ORDER BY-in-aggregate
    spelling).  Broadcast join (region is tiny) + single-shuffle agg.

    The sorted array is emitted joined to one string: the external checker
    canonicalizes via pandas sort/hash, which cannot handle array cells."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "q_gap_fill",
    oracle="""
        WITH b AS (
          SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                 CAST(max(o_orderdate) AS DATE) AS hi
          FROM orders
        ),
        days AS (
          SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                             CAST(hi AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE) AS day
          FROM b
        ),
        d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM orders GROUP BY 1
        )
        SELECT days.day AS day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders
        FROM days LEFT JOIN d USING (day)
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling: daily order counts with explicit zero rows
    for days that had no orders — the shape every dashboard/training-mix
    rollup needs (missing ≠ zero only if you materialize the spine).

    The spine is generated DISTRIBUTED: a one-row min/max aggregate feeds
    ``sequence()`` + explode — no driver collect, no Python.  The spine
    then LEFT-joins the aggregated daily counts; both sides are tiny
    (days, not fact rows) post-aggregation, so the join broadcasts
    (verified: BroadcastHashJoin LeftOuter over the counts).  At 100 TB
    the pattern is identical — spine and join size depend on the date
    range, never the fact table."""
    o = load_table(spark, sf_dir, "orders")
    spine = (
        o.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders")
    )


@query(
    "q_bitwise_agg",
    oracle="""
        SELECT o_orderpriority,
               bit_and(o_orderkey) AS key_and,
               bit_or(o_orderkey) AS key_or,
               bit_xor(o_orderkey) AS key_xor
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregation — commutative+associative, so
    map-side partials combine exactly and the result is independent of
    partitioning (XOR-folding is also the classic distributed checksum)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@query(
    "q_percentile_cont",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q1,
               quantile_cont(l_quantity, 0.5) AS q2,
               quantile_cont(l_quantity, 0.75) AS q3
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (continuous) percentiles per group.

    Exact, not sketched: Spark's ``percentile`` sorts each group's values.
    Cross-engine determinism holds because l_quantity is integer-valued and
    the probes are dyadic (0.25/0.5/0.75): the interpolation position
    g = frac((n−1)·p) is an exact binary fraction, so a + g·(b−a) is exact
    IEEE arithmetic in both engines regardless of operation order.  The
    sketch-based scale path for arbitrary doubles is q_agg_approx_quantile
    (percentile_approx)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q1"),
        F.percentile("l_quantity", F.lit(0.5)).alias("q2"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q3"),
    )


@query(
    "q_sliding_window",
    oracle="""
        SELECT window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
          SELECT event_type,
                 make_timestamp(((epoch_us(ts) // 300000000) - k.k) * 300000000)
                   AS window_start
          FROM events, (SELECT unnest([0, 1]) AS k) k
        )
        GROUP BY window_start, event_type
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time window: 10-minute windows every 5
    minutes — each event lands in size/slide = 2 windows.

    Spark's ``window(ts, size, slide)`` expands rows to their windows
    before the aggregate (same expand as the oracle's unnest([0,1])); the
    aggregation stays one shuffle with map-side combine.  Window starts are
    epoch-aligned slide multiples in both engines."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )


@query(
    "q_fuzzy_join",
    oracle="""
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-match: part-name pairs within Levenshtein
    distance 3, blocked on the COMPOSITE key (brand, name length).

    Two scale devices, both lossless:

    * Composite blocking key.  Brand alone has fixed cardinality (25 in
      TPC-H), so candidate pairs grow as |part|²/25 and join parallelism is
      capped at 25 keys no matter the cluster size.  Length is a second,
      LOSSLESS blocking dimension: dist ≤ 3 implies |len(a)−len(b)| ≤ 3, so
      the probe side explodes each row into the 7 length bands
      [len−3, len+3] (the q_join_range banding device) and the join is EQUI
      on (brand, len_band).  Each qualifying pair meets exactly once — at
      len_band = len(name_b) — so no dedup is needed and the output set is
      identical.  Key cardinality becomes |brands| × |length range|, and
      length-incompatible pairs are never levenshtein'd at all.
    * Explicit-N repartition of the index side.  The quadratic work happens
      DOWNSTREAM of a tiny shuffle (20k rows ≈ 1 MB at sf0.1), so AQE's
      size-based coalescing folds it back to ONE task and serializes the
      8M levenshtein calls; repartition(N, keys) with an explicit N is
      exempt from coalescing.  Measured at sf0.1: 5.9 s → 0.95 s (6×).
      At 100 TB the same exchange IS the sort-merge join's required
      hash distribution, so it costs nothing extra; the hottest single
      key's quadratic block is further split by AQE skew-join replication.

    The threshold form of levenshtein (banded DP, −1 above the bound) stays
    as the final exact refinement — 20% faster than the unbounded DP,
    measured.  No broadcast hint: Catalyst broadcasts at bench scale and
    sort-merge-joins at cluster scale on its own."""
    p = load_table(spark, sf_dir, "part")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ln = F.length("p_name")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        # explode the sequence expression DIRECTLY (an aliased array column
        # would be recomputed below the exchange by generate-filter pushdown)
        F.explode(F.sequence(ln - 3, ln + 3)).alias("len_band"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        ln.alias("len_band"),
    ).repartition(n_part, "brand", "len_band")
    return (
        a.join(b, ["brand", "len_band"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b", 3))
        .filter(F.col("dist") >= 0)
        .select("key_a", "key_b", "dist")
    )


@query(
    "q_map_ops",
    oracle="""
        WITH c AS (
          -- a map cannot carry a NULL key (Spark raises NULL_MAP_KEY), and
          -- string_agg would drop the NULL key but KEEP its count —
          -- misaligned lists; NULL-typed events are excluded on BOTH
          -- engines (fuzzer catch, round 10)
          SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM events WHERE event_type IS NOT NULL
          GROUP BY user_id, event_type
        )
        SELECT user_id,
               string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
               string_agg(CAST(n AS VARCHAR), ',' ORDER BY event_type) AS type_ns,
               MAX(CASE WHEN event_type = 'click' THEN n END) AS n_clicks
        FROM c GROUP BY user_id
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column construction and access: per-user event_type→count
    map built with ``map_from_entries``, read back via map_keys/map_values/
    element_at.

    The map is built from a SORTED entry array, so key order (and thus the
    keys/values projections) is deterministic — collect_list alone is
    partition-order-dependent.  The compared output joins the key/value
    arrays to strings (engine-portable, and scalar for the external
    checker's pandas canonicalizer); the map type itself is the Spark-side
    representation.  Two shuffles: the (user, type) count and the per-user
    assembly."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("tc")
    )
    return m.select(
        "user_id",
        F.array_join(F.map_keys("tc"), ",").alias("type_keys"),
        F.array_join(
            F.transform(F.map_values("tc"), lambda v: v.cast("string")), ","
        ).alias("type_ns"),
        F.element_at("tc", F.lit("click")).alias("n_clicks"),
    )


@query(
    "q_variant",
    oracle="""
        WITH k AS (
          SELECT event_type,
                 CASE WHEN props IS NOT NULL AND json_valid(props) THEN
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                 END AS k_val
          FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k_val) AS BIGINT) AS sum_k,
               CAST(COUNT(*) FILTER (WHERE k_val > 50) AS BIGINT) AS n_big_k
        FROM k
        GROUP BY event_type
    """,
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` converts the
    props JSON string into a VariantType value once; ``variant_get`` then
    extracts typed fields WITHOUT re-parsing per extraction — the open
    lakehouse answer to schema-on-read JSON columns (binary-encoded,
    shreddable, predicate-pushable in newer parquet writers).

    Contrast with q_json_schema (from_json with a declared schema): variant
    keeps undeclared structure queryable.  Aggregates are exact integers →
    engine-stable; the oracle uses DuckDB's JSON extraction over the same
    strings.

    Junk tolerance (fuzzer finding): the strict parse_json/variant_get
    pair ABORTS the whole job on one malformed document or one
    string-valued k — the try_ variants degrade those to NULL (rows stay
    counted in n, drop out of sum_k/n_big_k), matching the oracle's
    json_valid + TRY_CAST spelling."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.count_if(k > 50).alias("n_big_k"),
    )


@query(
    "q_udaf_pandas",
    oracle="""
        WITH ranked AS (
          SELECT l_returnflag, l_quantity,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_quantity, l_orderkey, l_linenumber)
                   AS rn,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem
        )
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS trimmed_mean,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM ranked
        WHERE rn > n // 10 AND rn <= n - n // 10
        GROUP BY l_returnflag
    """,
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE via a GROUPED_AGG pandas UDF: 10%-trimmed
    mean of l_quantity per return flag (drop the ⌊n/10⌋ smallest and
    largest, mean the rest).

    The UDAF escape hatch for aggregates Spark lacks: per group, Arrow
    ships the column once and numpy does the sort+trim — no row-at-a-time
    Python.  l_quantity is integer-valued, so the trimmed sum is exact and
    the single final division is IEEE-identical to the oracle's
    window-based spelling.  At scale GROUPED_AGG holds one group's column
    in memory per task — fine for bounded groups (5 flags here); the
    sketch path (approx quantiles) covers unbounded ones."""
    from bifrost_spark.queries._udafs import trimmed_count, trimmed_mean

    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        trimmed_mean("l_quantity").alias("trimmed_mean"),
        trimmed_count("l_quantity").alias("n_kept"),
    )


@query(
    "q_sql_api",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume) through the SQL entry point:
    temp views + ``spark.sql`` — proving the engine's surface is reachable
    as plain ANSI SQL, not only the DataFrame DSL, with the SAME Catalyst
    plan underneath.

    Six-table join: region/nation broadcast (tiny dims), the fact joins
    shuffle on their keys, revenue accumulates in DECIMAL for
    engine-stable doubles.  The region filter prunes at the dim scan and
    propagates through the join graph."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM v_customer c
        JOIN v_orders o ON o.o_custkey = c.c_custkey
        JOIN v_lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN v_supplier s ON s.s_suppkey = l.l_suppkey
                         AND s.s_nationkey = c.c_nationkey
        JOIN v_nation n ON n.n_nationkey = c.c_nationkey
        JOIN v_region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        """
    )


@query(
    "q_integrity_check",
    oracle="""
        SELECT 'lineitem_orphans' AS check_name,
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                 AS BIGINT) AS violations
        UNION ALL
        SELECT 'orders_null_custkey',
               CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                 AS BIGINT)
        UNION ALL
        SELECT 'orders_dup_orderkey',
               CAST((SELECT COUNT(*) FROM (
                       SELECT o_orderkey FROM orders
                       GROUP BY o_orderkey HAVING COUNT(*) > 1))
                 AS BIGINT)
        UNION ALL
        SELECT 'lineitem_bad_discount',
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    """,
)
def q_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: referential integrity (orphaned lineitems),
    null-constraint, key-uniqueness, and domain-range checks in one pass —
    the validation stage a pipeline runs before promoting a snapshot.

    Each check is a distributed aggregate (anti join for the FK check, one
    groupBy for uniqueness, scan-side predicates for null/domain); the
    result is a tiny (check, violations) table — alert on any nonzero.
    At 100 TB the FK anti join is the only shuffle-heavy check and shares
    the orderkey partitioning the fact tables already use."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    def one(name, df):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("violations"),
        )

    orphans = l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")
    null_cust = o.filter(F.col("o_custkey").isNull())
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    bad_disc = l.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
    return (
        one("lineitem_orphans", orphans)
        .unionAll(one("orders_null_custkey", null_cust))
        .unionAll(one("orders_dup_orderkey", dup_keys))
        .unionAll(one("lineitem_bad_discount", bad_disc))
    )


@query(
    "q_zscore",
    oracle="""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                   AS DOUBLE) AS s2
          FROM lineitem GROUP BY l_returnflag
        )
        -- singleton / zero-variance groups: z is undefined -> NULL
        SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
               CASE WHEN m.n > 1 AND (m.n * m.s2 - m.s1 * m.s1) > 0
                    THEN (l.l_quantity - m.s1 / m.n)
                         / sqrt((m.n * m.s2 - m.s1 * m.s1)
                                / (m.n * (m.n - 1)))
               END AS qty_z
        FROM lineitem l JOIN m ON m.l_returnflag = l.l_returnflag
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-engineering
    normalization pass, bit-stable by construction: group mean and sample
    variance derive from EXACT decimal moments (count / Σx / Σx², the same
    device as q_agg_stats), and each row's (x−μ)/σ is then a fixed IEEE
    sequence identical in both engines.

    Plan: one map-side-combined moment aggregate (5 groups → tiny),
    broadcast back onto the fact scan — the fact table shuffles ZERO rows;
    standardization happens at scan speed.  The classic two-pass pattern
    that replaces nondeterministic single-pass Welford at cluster scale."""
    from bifrost_spark.queries._util import DEC

    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q.cast(DEC)).cast("double").alias("s1"),
        F.sum((q * q).cast(DEC)).cast("double").alias("s2"),
    )
    j = l.join(F.broadcast(m), "l_returnflag")
    mean = F.col("s1") / F.col("n")
    ssq = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    var = ssq / (F.col("n") * (F.col("n") - 1))
    # singleton / zero-variance guard (fuzzer finding): z undefined → NULL
    z = F.when((F.col("n") > 1) & (ssq > 0), (q - mean) / F.sqrt(var))
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        z.alias("qty_z"),
    )


@query(
    "q_feature_hash",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS term
          FROM documents
        )
        SELECT doc_id,
               {sql_hash_bucket('term', 64)} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM toks
        GROUP BY 1, 2
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): bag-of-words folded into a
    fixed feature space via a content hash — unbounded vocabulary becomes
    a bounded, join-free feature vector, the standard trick when a fitted
    vocabulary dictionary is impractical at corpus scale.

    Fixture runs 64 buckets (readable oracle); production pipelines pass
    ``_util.HASH_BUCKETS_PROD`` (8192) or larger — the bucket count is a
    free parameter of :func:`feature_hash` and changes nothing about the
    plan."""
    return feature_hash(spark, sf_dir, 64)


def feature_hash(
    spark: SparkSession, sf_dir: str, n_buckets: int = HASH_BUCKETS_PROD
) -> DataFrame:
    """Parameterized hashing-trick core.  Bucket = leading md5 hex chars
    DECODED to 0-15 each (md5 is the one hash both engines share; the raw
    ascii spelling collapsed mod 64 — see _util.hash_bucket), uniform for
    any power-of-two count; one shuffle on (doc, bucket) with map-side
    combine.  At 100 TB this replaces a vocabulary broadcast that
    wouldn't fit."""
    from bifrost_spark.queries._util import spread

    # _util.spread: the md5-per-token bucket derivation is the dominant
    # CPU and runs in the scan's single input split otherwise (guide §2.5;
    # the q_dsir_weights device — same md5 chain).  The groupBy keys on
    # (doc_id, bucket) so partials still combine map-side after the spread.
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " ", -1), lambda t: t != "")
        ).alias("term"),
    )
    return toks.groupBy(
        "doc_id", hash_bucket("term", n_buckets).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_profile",
    oracle="""
        SELECT 'c_custkey' AS col,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(c_custkey) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
               CAST(MIN(c_custkey) AS VARCHAR) AS min_v,
               CAST(MAX(c_custkey) AS VARCHAR) AS max_v
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(c_mktsegment) AS BIGINT),
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
               MIN(c_mktsegment), MAX(c_mktsegment)
        FROM customer
        UNION ALL
        SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(c_nationkey) AS BIGINT),
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
               CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
        FROM customer
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (ANALYZE/data-catalog statistics): per column —
    row count, non-null count, exact distinct count, min/max — in long
    format, the stats a catalog or CBO ingests and the first thing run on
    any unfamiliar dataset.

    ONE scan for all columns: every column's stats are computed in a
    single aggregation (Spark plans the multi-distinct via one Expand —
    row multiplication inside the scan, never a rescan) and unpivoted
    in-row with explode.  A union-of-per-column-aggregates spelling
    scanned the table once per column — 3 scans for 3 columns, O(cols)
    full passes at 100 TB.  Values stringified so heterogeneous column
    types share one schema.  Exact distinct here because profile runs
    are offline; the streaming/cheap variant is approx_count_distinct
    (q_agg_approx)."""
    c = load_table(spark, sf_dir, "customer")

    def stats(col):
        return F.struct(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            F.min(col).cast("string").alias("min_v"),
            F.max(col).cast("string").alias("max_v"),
        )

    row = c.agg(
        stats("c_custkey").alias("s1"),
        stats("c_mktsegment").alias("s2"),
        stats("c_nationkey").alias("s3"),
    )
    return row.select(
        F.explode(F.array("s1", "s2", "s3")).alias("s")
    ).select("s.*")


@query(
    "q_zorder",
    oracle="""
        WITH b AS (
          SELECT o_orderkey,
                 o_custkey % 256 AS x,
                 CAST(date_part('doy', o_orderdate) % 256 AS BIGINT) AS y
          FROM orders
        )
        SELECT o_orderkey, x, y,
               CAST((SELECT SUM(
                       (((x >> i.i) & 1) << (2 * i.i))
                     + (((y >> i.i) & 1) << (2 * i.i + 1)))
                     FROM (SELECT unnest(range(0, 8)) AS i) i) AS BIGINT) AS zkey
        FROM b
    """,
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer bucket, day-of-year)
    — the OPTIMIZE ZORDER BY primitive: sort/range-partition by this key
    and parquet row-group min/max stats prune for BOTH dimensions instead
    of one (operators/layout.py; write path =
    repartitionByRange(zkey) → sortWithinPartitions → write).

    Pure shiftleft/and/or integer expressions, whole-stage-codegen'd, no
    shuffle to COMPUTE the key (the clustering write is where the range
    shuffle happens).  Oracle spells the identical interleave as a bit-sum
    over unnested bit positions."""
    from bifrost_spark.operators.layout import zorder_key

    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        F.pmod("o_custkey", F.lit(256)).alias("x"),
        F.pmod(F.dayofyear("o_orderdate"), F.lit(256)).cast("bigint").alias("y"),
    )
    return b.select(
        "o_orderkey",
        "x",
        "y",
        zorder_key([F.col("x"), F.col("y")], bits=8).alias("zkey"),
    )


@query(
    "q_percent_of_total",
    oracle="""
        WITH rev AS (
          SELECT n.n_name AS nation,
                 CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          GROUP BY n.n_name
        )
        SELECT nation, revenue,
               revenue / CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER ()
                              AS DOUBLE) AS share,
               CAST(rank() OVER (ORDER BY revenue DESC, nation) AS BIGINT)
                 AS revenue_rank
        FROM rev
    """,
)
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (the BI contribution report): each nation's revenue
    share of the grand total via an unpartitioned window, plus its rank.

    Determinism: group revenues are decimal-exact doubles, and the grand
    total re-accumulates them in DECIMAL inside the window (an unordered
    window SUM over doubles would be fold-order-dependent — measured
    flaky); round-tripping the exact six-decimal revenue through double
    and back is lossless below 2^53 scaled magnitude, so the total and
    the single-IEEE-division share are bit-identical everywhere.  The
    whole-table window is safe precisely BECAUSE it runs over the
    aggregated (tiny) relation, never the fact table."""
    from bifrost_spark.queries._util import DEC

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue")
        )
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("revenue"), F.asc("nation"))
    return rev.select(
        "nation",
        "revenue",
        (
            F.col("revenue")
            / F.sum(F.col("revenue").cast(DEC)).over(w_all).cast("double")
        ).alias("share"),
        F.rank().over(w_rank).cast("bigint").alias("revenue_rank"),
    )


@query(
    "q_lateral_topn",
    oracle="""
        SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        FROM orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber
                 LIMIT 2) t
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each order's two most expensive line
    items, written as SQL LATERAL (the top-N-per-group idiom SQL users
    reach for before they know window functions).

    Catalyst DECORRELATES the per-row subquery into a window/aggregate
    over one orderkey shuffle — no per-order execution ever happens, which
    is exactly why the engine can accept the lateral spelling at 100 TB.
    Tie-break (price, linenumber) is unique per order → deterministic."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"vl_{t}")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        FROM vl_orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice FROM vl_lineitem l
                 WHERE l.l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber
                 LIMIT 2) t
        """
    )


@query(
    "q_copurchase",
    oracle="""
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    """,
)
def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs ordered together in ≥2
    orders — the support-counting core of association-rule mining
    (FP-growth's frequent-2-itemset stage), and the input to
    "bought-together" recommenders.

    The self-join is an EQUI join on orderkey, so the quadratic blowup is
    bounded per basket (|lines per order|², ~4² here) — the same
    blocking-key shape as q_fuzzy_join.  At 100 TB the pair aggregation is
    the heavy shuffle; the HAVING support floor is what keeps the output
    (and any downstream broadcast) sparse."""
    from bifrost_spark.queries._util import spread

    # _util.spread: the join's pair fan-out (|lines per order|² rows) plus
    # the pair-count partial aggregation run in the probe scan's stage —
    # single input split otherwise (guide §2.5).  Spreading the narrow
    # (orderkey, partkey) projection BEFORE the self-join moves ~16 bytes/row
    # once and parallelizes the quadratic part.  Both join sides read the
    # one spread exchange: AQE reuses identical exchanges, so the executed
    # plan holds one Scan parquet and one ReusedExchange, and no eager
    # checkpoint job is needed at build time.
    l = spread(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    a = l.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = l.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "q_snapshot_diff",
    oracle="""
        WITH snap_a AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 7 <> 0
        ),
        snap_b AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'R' ELSE o_orderstatus END
                   AS o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 5 <> 0
        )
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    ELSE 'changed' END AS change_type
        FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
        WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           OR a.o_custkey IS DISTINCT FROM b.o_custkey
           OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two table
    snapshots as added / removed / changed (unchanged rows drop out) —
    the core of incremental-pipeline reconciliation, audit tooling, and
    change-feed derivation when the source offers only full snapshots.
    The two snapshots are deterministic transforms of `orders` (B drops
    keys ≡0 mod 5 and rewrites status/price for keys ≡0 mod 3; A drops
    keys ≡0 mod 7), standing in for yesterday's/today's loads.

    Scale shape: ONE full-outer shuffle join on the primary key; both
    sides hash-partition on o_orderkey, so 100 TB snapshots stream
    through sort-merge without any driver state.  Column comparison
    happens post-join JVM-side; with wide rows, compare an xxhash64 over
    the tracked columns instead so the shuffle carries (key, 8-byte
    hash) — same plan, ~constant row width.  Snapshots bucketed on the
    key skip the shuffle entirely (io.py::write_bucketed_table).

    Determinism: the diff compares values with null-safe equality; the
    only double column is compared (not emitted), and B's price edit
    (+10.0) is exact in IEEE, so both engines agree bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    snap_a = base.filter(F.col("o_orderkey") % 7 != 0)
    edited = F.col("o_orderkey") % 3 == 0
    snap_b = base.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(edited, F.lit("R")).otherwise(F.col("o_orderstatus"))
          .alias("o_orderstatus"),
        F.when(edited, F.col("o_totalprice") + 10.0)
          .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    a = snap_a.withColumn("in_a", F.lit(1)).alias("a")
    b = snap_b.withColumn("in_b", F.lit(1)).alias("b")
    joined = a.join(b, on="o_orderkey", how="full_outer")
    added = F.col("in_a").isNull()
    removed = F.col("in_b").isNull()
    changed = (
        ~F.col("a.o_custkey").eqNullSafe(F.col("b.o_custkey"))
        | ~F.col("a.o_orderstatus").eqNullSafe(F.col("b.o_orderstatus"))
        | ~F.col("a.o_totalprice").eqNullSafe(F.col("b.o_totalprice"))
    )
    return (
        joined.withColumn(
            "change_type",
            F.when(added, "added").when(removed, "removed")
             .when(changed, "changed"),
        )
        .filter(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type")
    )


@query(
    "q_rolling_median",
    oracle="""
        SELECT event_id, user_id,
               round(median(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ), 9) AS med5
        FROM events
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over each user's last 5 events — the
    windowed ORDER STATISTIC the plain window family lacks (SUM/AVG/rank
    are streaming-computable per frame; a median needs the frame's
    sorted contents).

    Spark has no median window function, so the frame's values are
    collected per row (bounded: ≤5 elements — collect over a SMALL FIXED
    frame is O(frame) state, nothing like a per-key collect), sorted
    in-row, and the middle element (odd count) or mean of the two middle
    elements (even count) is taken — exactly DuckDB's continuous median.
    One shuffle on user_id; frame arithmetic is engine-exact ((a+b)/2 is
    one IEEE op on identical doubles; 9-dp rounding guards nothing real
    but keeps the output within the engine's compared-double policy)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2).cast("int") + 1)
    ) / 2.0
    return ev.select(
        "event_id",
        "user_id",
        # n == 0 (every value in the frame NULL — collect_list drops them)
        # falls through to NULL, matching DuckDB's NULL-ignoring median;
        # without the n > 0 guard element_at(arr, 0) aborts under ANSI
        # (fuzzer finding)
        F.round(
            F.when(n % 2 == 1, odd).when(n > 0, even), 9
        ).alias("med5"),
    )
