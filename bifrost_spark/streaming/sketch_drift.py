"""Streaming quantile-sketch drift monitor: per micro-batch, the daily
64-point equi-depth sketches of the batch's events are KS-scored against
a static baseline sketch — "did today's metric distribution move?",
continuously (VERDICT r7 item 4c).

This is the production deployment shape of ``q_sketch_drift``
(queries/scale_ops.py), the same pairing device as
centroid_drift.py ↔ q_centroid_drift: the baseline sketch is fitted ONCE
from a batch frame (the standing first week) by the SAME
``daily_value_sketch`` summary the batch query builds, and each
micro-batch's days are scored by the SAME ``score_days_against_baseline``
reduction — so per-batch outputs are the batch operator's semantics by
construction and the parity test holds with set equality, not tolerance.

Scale shape: per batch, one window pass over the batch's rows builds the
day sketches (the only stage that touches data), then everything scores
on days·K summary rows against the ≤7·K-point broadcast baseline.  No
state-store state: the baseline is an external artifact refreshed on its
own cadence, cross-batch state lives in the OUTPUT (one row per day per
batch), and the batch_id-partitioned dynamic-overwrite sink
(streaming/_sink.py) makes replay exactly-once.

Determinism mirrors q_sketch_drift: exact integer sketch weights,
DECIMAL(38,0) CDF cross products, the exact 5·max > td·tb alarm
condition, ks_d rounded at 9 dp — a replayed micro-batch emits identical
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.operators.vectors import local_frame
from bifrost_spark.queries.scale_ops import (
    daily_value_sketch,
    score_days_against_baseline,
)
from bifrost_spark.streaming._sink import start_batch_sink


def fit_baseline_sketch(df: DataFrame) -> DataFrame:
    """Baseline (pv, wb) sketch from a batch frame (e.g. the standing
    first week): per-day sketches merged by point value — exactly the
    merge q_sketch_drift applies to its minimum-week days.

    The fitted sketch is ≤7·K summary rows, so it is COLLECTED to the
    driver and re-created as a local relation rather than
    localCheckpoint-ed: checkpoint blocks live on executors with
    truncated lineage, and for an always-on monitor a single executor
    loss would make the baseline unrecoverable and fail every subsequent
    micro-batch (ADVICE r8).  A local relation is broadcast-able,
    survives executor churn, and round-trips losslessly (exact integer
    weights, raw double point values)."""
    agg = (
        daily_value_sketch(df)
        .groupBy("pv")
        .agg(F.sum("w").cast("bigint").alias("wb"))
    )
    return local_frame(df.sparkSession, agg.collect(), agg.schema)


def batch_sketch_drift(batch: DataFrame, baseline: DataFrame) -> DataFrame:
    """(day, n_day, n_base, ks_d, alarm) for one micro-batch: the batch's
    events sketch per day, each day scored against the baseline — the
    q_sketch_drift reduction with the batch as the scoring side."""
    sk = daily_value_sketch(batch).select("day", "pv", "w")
    return score_days_against_baseline(sk, baseline)


def start_sketch_drift(
    stream: DataFrame,
    baseline: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor: every micro-batch emits its per-day KS rows to
    the batch_id-partitioned replay-idempotent sink."""

    return start_batch_sink(
        stream, output_path, checkpoint_path,
        lambda batch, _: batch_sketch_drift(batch, baseline),
    )
