"""Streaming group-sequential experiment monitor: per micro-batch of
enrollment outcomes, rebuild the K-look OBF/Pocock decision table from
the per-look counts already emitted — the always-on deployment of
``q_group_sequential`` (queries/experiment_ops.py) and the SIXTH
batch↔streaming pairing (centroid_drift, sketch_drift, sprt_monitor,
cusum_monitor, page_hinkley, and now the scheduled-looks design).

State device (output-carried, INTEGER counts — the sprt_monitor end
of the carry spectrum): each emit writes the full K-row decision table
carrying BOTH the cumulative readouts (n/conv per arm, z, boundaries,
reject flags — the q_group_sequential output contract) and this batch's
per-look integer increments (inc_n_a …), plus the anchor day (the
experiment start, fixed by the FIRST batch) and the newest entry day.
The next batch reads only the newest prior partition and recovers its
per-(variant, look) cells by differencing that table's
cumulative-over-looks counts along ``look``.  Integer differences
recover EXACTLY, so the continued table is identical to the single-shot
one — the multi-batch differential gate asserts set equality, not
tolerance.  Replay, first-batch and ordering rules are the shared
sink's (streaming/_sink.py); the ordering is checked on entry days.

Each micro-batch is USER-COMPLETE (a user's whole history arrives in
one batch — the observation-window-closed delivery, since `converted`
is undefined before the window closes).  The anchor day never moves
after batch 0: with ordering, batch 0 holds the global earliest
enrollment, so the look schedule matches the batch query's.

Determinism mirrors q_group_sequential: counts are exact integers; z
and the PRECOMPUTED boundary literals come from the shared
``gs_decision_frame`` — one spelling, decisions agree by construction.
"""

from __future__ import annotations

import datetime as _dt
from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.operators.vectors import local_frame
from bifrost_spark.queries.experiment_ops import (
    _GS_LOOKS,
    gs_assignments,
    gs_decision_frame,
    gs_look_cells,
)
from bifrost_spark.streaming._sink import (
    guard_order,
    newest_prior_partition,
    start_batch_sink,
)

_INC_COLS = ("inc_n_a", "inc_c_a", "inc_n_b", "inc_c_b")


def _prior_state(
    spark, output_path: str, batch_id: int
) -> tuple[list[tuple[str, int, int, int]], object, object]:
    """(cells, anchor_day, max_entry_day) from the newest prior partition
    (``_sink.newest_prior_partition``): its K-row table's
    cumulative-over-looks counts, differenced along ``look``, are the
    per-(variant, look) cells (≤ 2K rows, driver-held); empty before the
    first batch."""
    prior = newest_prior_partition(spark, output_path, batch_id)
    rows = [] if prior is None else sorted(prior.collect(), key=lambda r: r["look"])
    if not rows:
        return [], None, None
    cells: list[tuple[str, int, int, int]] = []
    prev = {"A": (0, 0), "B": (0, 0)}
    for r in rows:
        for v, n, c in (("A", r["n_a"], r["conv_a"]), ("B", r["n_b"], r["conv_b"])):
            cells.append((v, int(r["look"]), n - prev[v][0], c - prev[v][1]))
            prev[v] = (n, c)
    return cells, rows[-1]["anchor_day"], rows[-1]["max_entry_day"]


def batch_gst_update(
    batch: DataFrame,
    prior_cells: list[tuple[str, int, int, int]],
    anchor: _dt.date | None,
) -> tuple[DataFrame | None, object, object]:
    """One micro-batch of raw events → (the full K-look decision table
    with increment/anchor recovery columns, batch min entry day, batch
    max entry day).  Returns (None, None, None) for a batch with no
    attributable users."""
    spark = batch.sparkSession
    assign = gs_assignments(batch)
    bounds = assign.agg(
        F.min(F.col("first_day").cast("date")).alias("dmin"),
        F.max(F.col("first_day").cast("date")).alias("dmax"),
    ).collect()[0]
    if bounds["dmin"] is None:
        return None, None, None
    if anchor is None:
        anchor = bounds["dmin"]
    d0 = local_frame(spark, [(anchor,)], "d0 date")
    inc = gs_look_cells(assign, d0).localCheckpoint(eager=True)
    if prior_cells:
        prior = local_frame(
            spark, prior_cells, "variant string, look bigint, n bigint, c bigint"
        )
        cells = (
            inc.unionByName(prior)
            .groupBy("variant", "look")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("c").cast("bigint").alias("c"),
            )
        )
    else:
        cells = inc
    table = gs_decision_frame(spark, cells)
    inc_wide = inc.groupBy("look").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("variant") == v, F.col(m))), F.lit(0))
            .cast("bigint")
            .alias(c)
            for c, (v, m) in zip(_INC_COLS, product("AB", "nc"))
        ]
    )
    out = table.join(inc_wide, "look", "left").select(
        *table.columns,
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in _INC_COLS],
        F.lit(anchor).cast("date").alias("anchor_day"),
        F.lit(bounds["dmax"]).cast("date").alias("max_entry_day"),
    )
    return out, bounds["dmin"], bounds["dmax"]


def start_gst_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    derives its per-look enrollment increments, rebuilds the K-look
    decision table from the output-carried cumulative cells, and emits
    it to the batch_id-partitioned replay-idempotent sink."""

    def _update(batch: DataFrame, batch_id: int) -> DataFrame | None:
        spark = batch.sparkSession
        cells, anchor, entry_max = _prior_state(spark, output_path, batch_id)
        update, dmin, _ = batch_gst_update(batch, cells, anchor)
        if update is None:
            return None
        return guard_order("gst_monitor", batch_id, update, entry_max, dmin)

    return start_batch_sink(stream, output_path, checkpoint_path, _update)


__all__ = [
    "batch_gst_update",
    "start_gst_monitor",
    "_GS_LOOKS",
]
