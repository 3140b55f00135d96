"""Shared replay-idempotent micro-batch sink for the streaming monitors,
plus the one Hadoop FileSystem lookup of the streaming layer.

Users of the sink: drift_monitor, centroid_drift, sketch_drift and
fuzzy_dedup (stateless per batch), and sprt_monitor, cusum_monitor,
page_hinkley and gst_monitor (state carried in their own output).
Users of ``hadoop_fs``: compact, manifest_compact, upsert, the CLI's
``compact`` subcommand (main.py) and ``newest_prior_partition`` below.

Replay contract (the replayable-source plus idempotent-sink recipe of
Structured Streaming, SIGMOD 2018; the reference's "same first offset →
same key" upload, s3.clj:15-20):

* each non-empty micro-batch N is written into ``output/batch_id=N`` with
  a dynamic partition overwrite, so a crash between sink write and
  checkpoint commit re-runs the batch into the same directory instead of
  appending a duplicate (exactly-once at the sink, no reader-side dedup);
* a monitor that carries state in its output reads ONLY partitions with
  ``batch_id < N``, so a re-run of batch N never reads its own
  half-written output and recomputes the same rows.  It reads exactly
  one: the newest, ``batch_id = max k < N`` (``newest_prior_partition``).
  With the ordering rule below, every emitted row carries the cumulative
  state through its day, so that partition holds the whole state, however
  many batches came before it;
* a missing output path is the first batch and the only read failure
  that may reset a walk to its zero state; any other read error (FS
  fault, corrupt file, a non-partition entry) propagates so the
  micro-batch fails and retries instead of silently restarting the walk;
* batches arrive in strictly increasing day order; a batch reaching back
  to an already-emitted day is a backfill correction and is rejected
  (``guard_order``) rather than corrupting the walk.

Idempotence depends on DYNAMIC partition overwrite.  The per-write
``partitionOverwriteMode`` option is authoritative on Spark ≥ 2.4's v1
file source, but some builds/confs resolve only the SESSION conf — so the
session conf is set to dynamic for the duration of the write and RESTORED
afterwards (a leaked dynamic default would silently change unrelated
static-overwrite writes elsewhere in the session).
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"

# Two concurrent streaming queries sharing one SparkSession (e.g. drift
# monitor + fuzzy dedup) run their foreachBatch emits on different threads;
# unguarded set-then-restore could restore each other's value or leak
# 'dynamic' into an unrelated static overwrite mid-write (ADVICE r6).  The
# per-write option stays authoritative on the v1 file source — the session
# conf is only the fallback — but the fallback must not race either.
_MODE_LOCK = threading.Lock()


def hadoop_fs(spark, path: str):
    """The Hadoop FileSystem owning ``path`` (scheme-portable: file://,
    s3a://, abfss://), resolved through the session's Hadoop conf."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def write_batch_partition(df: DataFrame, batch_id: int, output_path: str) -> None:
    """Emit one micro-batch result into ``output_path/batch_id=N`` with
    dynamic-partition overwrite, leaving the session conf as it was."""
    spark = df.sparkSession
    with _MODE_LOCK:
        try:
            prev = spark.conf.get(_MODE_KEY)
        except Exception:
            prev = None
        spark.conf.set(_MODE_KEY, "dynamic")
        try:
            (
                df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_path)
            )
        finally:
            if prev is None:
                spark.conf.unset(_MODE_KEY)
            else:
                spark.conf.set(_MODE_KEY, prev)


def newest_prior_partition(spark, output_path: str, batch_id: int) -> DataFrame | None:
    """The monitor's newest partition below the current batch,
    ``output_path/batch_id=k`` for the largest k < N, read alone (with
    ``basePath``, so its rows keep the ``batch_id`` column).  None when
    the path is missing (the first batch) or holds no partition below N.

    The path is listed once.  Hidden entries (``_``/``.``, Spark's rule:
    ``_SUCCESS``, ``.spark-staging-*``) are skipped; any other entry
    raises, and so does an unreadable newest partition."""
    root = spark._jvm.org.apache.hadoop.fs.Path(output_path)
    fs = hadoop_fs(spark, output_path)
    if not fs.exists(root):
        return None
    below = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        key, _, k = name.partition("=")
        if key != "batch_id" or not k.isdigit():
            raise ValueError(f"{output_path}: {name!r} is not a batch_id partition")
        if int(k) < batch_id:
            below.append(int(k))
    if not below:
        return None
    return spark.read.option("basePath", output_path).parquet(
        f"{output_path}/batch_id={max(below)}"
    )


def guard_order(
    monitor: str,
    batch_id: int,
    update: DataFrame,
    last_day,
    first_day=None,
) -> DataFrame:
    """Reject a batch whose first day does not strictly follow
    ``last_day``, the last day already emitted (None: nothing emitted):
    appending it would emit non-monotone, duplicate-day cumulative rows.
    A replay of batch N passes, since ``last_day`` comes from the
    ``batch_id < N`` partitions only.

    Without a precomputed ``first_day`` the update is pinned with
    ``localCheckpoint`` (it is consumed twice: this min and the sink
    write) and its ``min(day)`` collected.  Returns the frame to write."""
    if last_day is None:
        return update
    if first_day is None:
        update = update.localCheckpoint(eager=True)
        first_day = update.agg(F.min("day").alias("d")).collect()[0]["d"]
    if first_day is not None and first_day <= last_day:
        raise ValueError(
            f"{monitor}: batch {batch_id} contains day {first_day} <= last "
            f"emitted day {last_day}; late rows are backfill corrections, "
            "not monitor updates (ordering contract)"
        )
    return update


def start_batch_sink(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    update: Callable[[DataFrame, int], DataFrame | None],
) -> StreamingQuery:
    """Run ``stream`` into the batch_id-partitioned sink: each non-empty
    micro-batch's ``update(batch, batch_id)`` frame is written to
    ``output_path/batch_id=N`` (a None frame writes nothing)."""

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        out = update(batch, batch_id)
        if out is not None:
            write_batch_partition(out, batch_id, output_path)

    return (
        stream.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
