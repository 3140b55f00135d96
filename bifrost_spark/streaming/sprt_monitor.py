"""Streaming SPRT experiment monitor: per micro-batch of enrollment
outcomes, continue Wald's sequential walk from the totals already
emitted — the always-on deployment of ``q_sprt_monitor``
(queries/monitor_ops.py), completing the batch↔streaming pairing family
(centroid_drift, sketch_drift, and now the sequential-decision monitor).

State device (NEW in this family): unlike the drift monitors, the SPRT
is inherently CUMULATIVE — batch N's llr needs every prior batch's
counts.  Instead of a state store, the running totals live in the
monitor's OWN OUTPUT: each emit writes per-day rows carrying both the
day increments (n_day, c_day) and the cumulative columns (n_cum,
conv_cum); the next batch takes its offsets from the max-day row of the
newest prior partition.  Replay, first-batch and ordering rules are the
shared sink's (streaming/_sink.py).

Each micro-batch is USER-COMPLETE (a user's whole event history arrives
in one batch — the "observation window closed" delivery every
outcome-attribution pipeline uses, since a user's converted flag is
undefined until their window closes).

Determinism mirrors q_sprt_monitor: counts are exact integers, the llr
multiplies them by PRECOMPUTED log literals (shared constants, one
spelling in monitor_ops.sprt_walk), decisions compare the same unrounded
double — a replayed batch emits identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.monitor_ops import arm_b_daily_enrollments, sprt_walk
from bifrost_spark.streaming._sink import (
    guard_order,
    newest_prior_partition,
    start_batch_sink,
)


def batch_sprt_update(
    batch: DataFrame, n_offset: int, c_offset: int
) -> DataFrame:
    """One micro-batch of raw events → its arm-B daily enrollment
    increments walked forward from the prior totals."""
    return sprt_walk(arm_b_daily_enrollments(batch), n_offset, c_offset)


def _prior_state(
    spark, output_path: str, batch_id: int
) -> tuple[int, int, object]:
    """(n_cum, conv_cum, day) from the max-day row of the newest prior
    partition (``_sink.newest_prior_partition``); (0, 0, None) before
    the first batch."""
    prior = newest_prior_partition(spark, output_path, batch_id)
    row = [] if prior is None else prior.orderBy(F.desc("day")).limit(1).collect()
    if not row:
        return 0, 0, None
    return int(row[0]["n_cum"]), int(row[0]["conv_cum"]), row[0]["day"]


def start_sprt_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    derives its enrollment increments, continues the walk from the
    output-carried totals, and emits per-day decision rows to the
    batch_id-partitioned replay-idempotent sink."""

    def _update(batch: DataFrame, batch_id: int) -> DataFrame:
        n0, c0, max_day = _prior_state(batch.sparkSession, output_path, batch_id)
        update = batch_sprt_update(batch, n0, c0)
        return guard_order("sprt_monitor", batch_id, update, max_day)

    return start_batch_sink(stream, output_path, checkpoint_path, _update)
