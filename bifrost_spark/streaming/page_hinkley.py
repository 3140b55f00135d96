"""Streaming Page-Hinkley drift monitor: per micro-batch of raw events,
continue the running-mean deviation walk from the state already emitted
— the always-on deployment of ``q_page_hinkley``
(queries/experiment_ops.py) and the FIFTH batch↔streaming pairing
(centroid_drift, sketch_drift, sprt_monitor, cusum_monitor, and now
Page-Hinkley).

State device — the EXACT-carry refinement of the family: PH is pure
prefix sums (no max-clamp recursion), so the output can carry the state
EXACTLY: each emitted day row keeps its day count ``t`` (integer), the
cumulative DECIMAL(28,12) metric sum ``sum_m`` and addend sum
``sum_add`` (parquet round-trips decimals losslessly), and the running
minimum ``ph_min`` (a previously-computed double).  Batch N recovers
the max-day row of the newest prior partition and hands those values
back to the SAME ``ph_walk`` helper — so the continued walk is
BIT-IDENTICAL to a single-shot walk over all days, which the
multi-batch differential gate asserts with set equality, not
tolerance.  Contrast: the SPRT twin
carries integer totals and the CUSUM twin raw clamped doubles; PH
closes the family with exact decimal carries.  Replay, first-batch and
ordering rules (whole days per batch) are the shared sink's
(streaming/_sink.py).

No baseline artifact at all: Page-Hinkley's reference level is the
running mean itself, which is exactly why it is the drift monitor you
can deploy on a metric with no trusted warm-up week.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.experiment_ops import ph_decisions, ph_walk
from bifrost_spark.queries.monitor_ops import cusum_daily_frame
from bifrost_spark.streaming._sink import (
    guard_order,
    newest_prior_partition,
    start_batch_sink,
)


def batch_ph_update(
    batch: DataFrame, t0: int, sum_m0, sum_add0, min0
) -> DataFrame:
    """One micro-batch of raw events → its days' PH rows continued from
    the carried (t, sum_m, sum_add, ph_min) state, with the exact state
    columns kept alongside the decision contract for the next batch's
    recovery."""
    rows = ph_walk(
        # cusum_daily_frame: the shared 12-dp daily-mean spelling (the
        # batch query's _daily_means over a loaded table is identical)
        cusum_daily_frame(batch).select("day", "m"),
        t0=t0,
        sum_m0=sum_m0,
        sum_add0=sum_add0,
        min0=min0,
    )
    return ph_decisions(rows).join(
        rows.select("day", "t", "sum_m", "sum_add", "ph_min"), "day"
    )


def _prior_state(spark, output_path: str, batch_id: int):
    """(t, sum_m, sum_add, ph_min, max_day) from the max-day row of the
    newest prior partition (``_sink.newest_prior_partition``); the zero
    state before the first batch."""
    prior = newest_prior_partition(spark, output_path, batch_id)
    row = [] if prior is None else prior.orderBy(F.desc("day")).limit(1).collect()
    if not row:
        return 0, None, None, None, None
    r = row[0]
    return int(r["t"]), r["sum_m"], r["sum_add"], float(r["ph_min"]), r["day"]


def start_ph_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    folds its days' means, continues the prefix-sum walk from the
    output-carried exact state, and emits per-day decision+state rows to
    the batch_id-partitioned replay-idempotent sink."""

    def _update(batch: DataFrame, batch_id: int) -> DataFrame:
        spark = batch.sparkSession
        t0, sm0, sa0, mn0, max_day = _prior_state(spark, output_path, batch_id)
        update = batch_ph_update(batch, t0, sm0, sa0, mn0)
        return guard_order("page_hinkley", batch_id, update, max_day)

    return start_batch_sink(stream, output_path, checkpoint_path, _update)
