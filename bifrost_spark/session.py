"""SparkSession factory + per-session tuning.

Mirrors the reference's boot path (``main.clj:25-37`` — config load, env
override, component start) in Spark terms: one place that builds/configures
the session.  Two entry modes:

* ``get_spark()`` — build our own tuned local session (tests, bench).
* ``tune_for_oracle(spark)`` — the driver hands us ITS session; apply only
  runtime-settable confs needed for deterministic oracle comparison.

Scale posture (100 TB / 1000 executors): everything set here is either
runtime-safe or a neutral default that a cluster deployment overrides via
spark-submit conf; nothing assumes local mode except ``get_spark``'s master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to set on a live session (runtime-settable SQLConf).
_RUNTIME_CONFS = {
    # DuckDB timestamps are UTC-naive; pin Spark's session TZ so collected
    # values line up (pyspark_guide.md "Pitfalls").
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing + skew-join splitting.  At 100 TB this
    # is what keeps reducers right-sized without hand-tuning per query.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: 64 MB instead of the 10 MB default (guide §3.1 —
    # "a few hundred MB is usually fine"; executors here and on the 100 TB
    # posture have multi-GB heaps).  Lets the planner keep doc-level side
    # tables (e.g. the PPJoin verify arrays, dimension tables after filters)
    # on the broadcast path; sides that outgrow it still fall back to
    # sort-merge automatically, so the setting stays scale-adaptive.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # spark.sql.join.preferSortMergeJoin=false (guide §9) was A/B-measured
    # in round 11 and NOT adopted: isolated min-of-3 showed the shuffled
    # hash path slower on the heaviest self-joins (q_dup_span_exact
    # 0.83→1.23 s, q_dup_flow_matrix 1.03→1.16 s) for ~0.1 s wins
    # elsewhere (q_fuzzy_join, q_url_dedup) — net negative.
    # events.ts is parquet TIMESTAMP(NANOS) which Spark 4 rejects outright;
    # read the raw int64 nanos and convert in the loader (tables.py) — the
    # same µs truncation DuckDB applies, so oracle values line up.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    Idempotent; called at the top of every registered query so the driver's
    own session behaves like ours.  Applied once per live session object
    (runtime confs persist on the session; re-setting them cost ~8 py4j
    round-trips per query call — ~1 s across a bench run).
    """
    if spark.__dict__.get("_bifrost_tuned"):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — defaults are acceptable
    spark.__dict__["_bifrost_tuned"] = True
    return spark


def get_spark(app_name: str = "bifrost_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build a tuned session.  Local master is for tests/bench only; on a
    cluster the same confs ride along via spark-submit.  The local master
    has one slot per core this process may run on, unless
    ``SPARK_GRAFT_CPUS`` says otherwise."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("BIFROST_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # files.maxPartitionBytes default 128m is right for the 100 TB target;
        # local small-SF files are single-partition anyway.
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune_for_oracle(builder.getOrCreate())
