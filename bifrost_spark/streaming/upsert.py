"""Streaming keyed-upsert sink: maintain "latest row per key" state from a
stream, exactly-once under micro-batch replay.

The reference archives an append-only log; the natural downstream
consumer ALSO wants the current-state view (cdc/compacted-topic
semantics: last value per key wins).  Structured Streaming's file sinks
are append-only, so the upsert is built on ``foreachBatch`` with an
idempotent delta layout:

* each micro-batch b writes its per-key LATEST rows to
  ``{path}/delta/batch_id=b`` with ``mode("overwrite")`` — a replayed
  batch (crash between sink write and checkpoint commit) overwrites the
  SAME directory with the SAME deterministic content, so replay is a
  no-op (the same idempotence device as the archive's offset-named
  objects, reference s3.clj:15-20);
* readers resolve current state with one window: latest (ts, batch_id)
  per key across all deltas;
* ``compact_state`` folds all deltas into a single base delta (an
  OPTIMIZE for the state view) and commits it through the write-ahead
  swap of streaming/compact.py, the one crash protocol of every
  compaction job.

Scale: each batch shuffles only that batch's rows (by key, for the
per-batch dedup); state resolution shuffles |state| once at READ time —
the classic read-optimized-vs-write-optimized trade, bounded by
periodic compaction.  Key-skew in a batch is AQE's problem (tiny
frames); key-skew in the state read is bounded by compaction keeping
one row per key.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from bifrost_spark.streaming import compact
from bifrost_spark.streaming._sink import hadoop_fs


def _latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_batch(batch_df: DataFrame, batch_id: int, path: str,
                 key_cols: list[str], ts_col: str,
                 tiebreak_cols: list[str] | None = None) -> None:
    """foreachBatch body: write this batch's latest-per-key rows to an
    overwrite-idempotent delta directory.

    Replay-idempotence REQUIRES a deterministic winner: (ts_col,
    tiebreak_cols) must totally order rows within a key (e.g. a unique
    event id).  With no tiebreak and duplicate timestamps the winner
    would be partition-order-dependent and a replayed batch could write
    different bytes."""
    order = [F.desc(ts_col)] + [F.desc(c) for c in (tiebreak_cols or [])]
    latest = _latest_per_key(batch_df, key_cols, order)
    (
        latest.write.mode("overwrite")
        .parquet(f"{path}/delta/batch_id={batch_id}")
    )


def start_keyed_upsert(stream: DataFrame, path: str, checkpoint: str,
                       key_cols: list[str], ts_col: str,
                       tiebreak_cols: list[str] | None = None) -> StreamingQuery:
    """Run the stream into the keyed-upsert sink (availableNow-compatible;
    caller controls the trigger via the returned query)."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: upsert_batch(df, bid, path, key_cols, ts_col,
                                         tiebreak_cols)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_state(spark: SparkSession, path: str, key_cols: list[str],
               ts_col: str, tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Current-state view: latest row per key across all delta directories.

    Ties are resolved by the DECLARED total order (ts_col, tiebreak_cols)
    first — the same order ``upsert_batch`` uses within a batch — so the
    winning row for a key never depends on how rows were split across
    micro-batches (or on compaction re-basing rows to a synthetic
    batch_id).  batch_id (the layout's partition column) is only the final
    tiebreak between byte-identical copies of the same logical row living
    in multiple deltas."""
    df = spark.read.option("basePath", f"{path}/delta").parquet(f"{path}/delta")
    order = ([F.desc(ts_col)]
             + [F.desc(c) for c in (tiebreak_cols or [])]
             + [F.desc("batch_id")])
    return _latest_per_key(df, key_cols, order).drop("batch_id")


_DELTA_RE = re.compile(r"^batch_id=-?\d+$")


def compact_state(spark: SparkSession, path: str, key_cols: list[str],
                  ts_col: str, tiebreak_cols: list[str] | None = None) -> int:
    """Fold all deltas into one base delta (an OPTIMIZE for the state view).

    The new base gets batch_id = (min existing batch_id) - 1 — a FRESH
    directory that sorts below every real batch, so repeated compactions
    step -1, -2, ... and never rename over a live delta.  The base is
    fully written under its staged name ``.batch_id=<id>`` (invisible to
    readers) and committed by compact.py's write-ahead swap: the one
    rename into place, then the deletes of the superseded deltas, with
    the WAL at ``{path}/.compaction-wal``.  Per that module's crash-state
    table, a crash before the WAL leaves the old layout (the next run
    drops the staged base), and a crash after it leaves the new base
    beside some superseded deltas, which read_state resolves to the
    identical view (every superseded row is also in the base with equal
    order keys and content) until the next run replays the WAL.  All
    paths go through the Hadoop FileSystem API so the same code works on
    object stores (s3a/abfss), matching the rest of the streaming layer."""
    jvm = spark._jvm
    fs = hadoop_fs(spark, path)
    delta_root = f"{path}/delta"
    wal_path = f"{path}/{compact._WAL_NAME}"
    compact._replay_wal(fs, jvm, wal_path)
    compact._drop_staged(fs, jvm.org.apache.hadoop.fs.Path(delta_root), _DELTA_RE)

    superseded, min_id = [], 0
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(delta_root)) or []:
        name = st.getPath().getName()
        if _DELTA_RE.match(name):
            superseded.append(f"{delta_root}/{name}")
            min_id = min(min_id, int(name.split("=", 1)[1]))

    state = read_state(spark, path, key_cols, ts_col, tiebreak_cols)
    n = state.count()
    base = f"{delta_root}/batch_id={min_id - 1}"
    state.write.mode("overwrite").parquet(compact._staged(base))
    compact._swap(fs, jvm, wal_path, [(compact._staged(base), base)], superseded)
    return n
