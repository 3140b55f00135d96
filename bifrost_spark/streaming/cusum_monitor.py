"""Streaming CUSUM change-point monitor: per micro-batch of raw events,
continue Page's control-chart recursion from the (S+, S−) state already
emitted — the always-on deployment of ``q_cusum_drift``
(queries/monitor_ops.py) and the FOURTH batch↔streaming pairing
(centroid_drift, sketch_drift, sprt_monitor, and now the CUSUM), built
on the output-carried-state device the SPRT twin proved (VERDICT r8
item 3c).

State device: the CUSUM is inherently CUMULATIVE — day t's (S+, S−)
need day t−1's.  Instead of a state store, the state lives in the
monitor's OWN OUTPUT: each emit writes per-day rows carrying BOTH the
9-dp rounded readouts (day_mean, s_pos, s_neg, alarms — the
q_cusum_drift output contract) and the RAW doubles sp_exact / sn_exact;
the next batch recovers its offsets from the max-day row of the newest
prior partition.  Raw doubles round-trip parquet losslessly, so the
continued walk is BIT-IDENTICAL to a single-shot walk — which is what
the multi-batch differential gate asserts with set equality, not
tolerance.
Replay, first-batch and ordering rules (each micro-batch carries whole
days, later than the last emitted one) are the shared sink's
(streaming/_sink.py).

Baseline: (mu0, s0) are fitted ONCE from a standing batch frame (the
first week) by ``fit_cusum_baseline`` — the SAME cusum_daily_frame /
cusum_baseline_frames spelling the batch query uses — and collected to
two Python floats the caller passes in: two driver-held scalars, no
executor-resident state to lose (the sketch_drift ADVICE-r8 lesson,
taken one step further).

Determinism mirrors q_cusum_drift: daily means are 12-dp decimal-exact,
the recursion is the shared cusum_walk IEEE add/max chain continued
from exact doubles — a replayed batch emits identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.operators.vectors import local_frame
from bifrost_spark.queries.monitor_ops import (
    cusum_baseline_frames,
    cusum_daily_frame,
    cusum_decisions,
    cusum_walk,
)
from bifrost_spark.streaming._sink import (
    guard_order,
    newest_prior_partition,
    start_batch_sink,
)


def fit_cusum_baseline(df: DataFrame) -> tuple[float, float]:
    """(mu0, s0) from a standing batch frame (e.g. the first week of
    events): the SAME first-_CUSUM_BASE_DAYS-days baseline spelling as
    q_cusum_drift, collected to two driver-held floats — durable by
    construction (they live in the caller, not on executors)."""
    daily = cusum_daily_frame(df)
    base, sd = cusum_baseline_frames(daily)
    mu0 = base.collect()[0]["mu0"]
    s0 = sd.collect()[0]["s0"]
    return float(mu0), float(s0)


def batch_cusum_update(
    batch: DataFrame, mu0: float, s0: float, sp0: float, sn0: float
) -> DataFrame:
    """One micro-batch of raw events → its days' CUSUM rows walked
    forward from the prior (sp0, sn0) state, with the raw state columns
    appended for the next batch's recovery."""
    spark = batch.sparkSession
    daily = cusum_daily_frame(batch).select("day", "m")
    base = local_frame(spark, [(mu0,)], "mu0 double")
    sd = local_frame(spark, [(s0,)], "s0 double")
    rows = cusum_walk(daily, base, sd, sp0=sp0, sn0=sn0)
    return cusum_decisions(rows).join(
        rows.select(
            "day",
            F.col("sp").alias("sp_exact"),
            F.col("sn").alias("sn_exact"),
        ),
        "day",
    )


def _prior_state(
    spark, output_path: str, batch_id: int
) -> tuple[float, float, object]:
    """(sp, sn, max_day) from the max-day row of the newest prior
    partition (``_sink.newest_prior_partition``); (0, 0, None) before
    the first batch."""
    prior = newest_prior_partition(spark, output_path, batch_id)
    row = [] if prior is None else prior.orderBy(F.desc("day")).limit(1).collect()
    if not row:
        return 0.0, 0.0, None
    return float(row[0]["sp_exact"]), float(row[0]["sn_exact"]), row[0]["day"]


def start_cusum_monitor(
    stream: DataFrame,
    mu0: float,
    s0: float,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    folds its days' means, continues the walk from the output-carried
    (S+, S−), and emits per-day decision+state rows to the
    batch_id-partitioned replay-idempotent sink."""

    def _update(batch: DataFrame, batch_id: int) -> DataFrame:
        sp0, sn0, max_day = _prior_state(batch.sparkSession, output_path, batch_id)
        update = batch_cusum_update(batch, mu0, s0, sp0, sn0)
        return guard_order("cusum_monitor", batch_id, update, max_day)

    return start_batch_sink(stream, output_path, checkpoint_path, _update)
