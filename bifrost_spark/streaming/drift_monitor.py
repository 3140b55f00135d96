"""Streaming drift monitor: per-micro-batch Population Stability Index of
the live stream against a static reference histogram, with an alert flag.

This is the production deployment shape of ``q_psi_drift``
(queries/pipeline_ops.py): the reference distribution is fitted ONCE from a
batch frame (yesterday's accepted corpus, a golden sample) and folded into
plan literals; every micro-batch then reduces to its own ≤n_bins histogram
and emits one PSI row to a sink the alerting layer tails.  Continuous
ingest monitoring — "did the crawler/upstream break tonight?" — is
exactly the op a 100 TB daily pipeline runs on every drop.

Scale shape: the per-batch work is one map-side-combined aggregate to
``n_bins`` rows; the reference model is ``n_bins`` longs of driver state
(the q_dsir_weights fold-back discipline — no join, no broadcast exchange).
State across batches lives in the OUTPUT (one row per batch), not in the
state store, so the monitor restarts cleanly from any checkpoint.

Determinism mirrors q_psi_drift: integer bin counts, add-half-smoothed
probabilities as single divisions of integer-valued doubles, 12-dp-rounded
log addends summed in DECIMAL — a retried micro-batch emits the identical
PSI row, and the batch_id-partitioned sink (streaming/_sink.py) makes
replay exactly-once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.operators.vectors import sql_literal
from bifrost_spark.streaming._sink import start_batch_sink

#: PSI above this is the conventional "population has shifted" alarm.
PSI_ALERT = 0.25


@dataclass(frozen=True)
class ReferenceHistogram:
    """Fixed-width reference histogram fitted from a batch frame."""

    bin_width: float
    n_bins: int
    counts: tuple[int, ...]  # per-bin reference counts, len == n_bins
    total: int

    @property
    def smoothed(self) -> tuple[float, ...]:
        """Add-half-smoothed reference probabilities (exact-operand
        divisions, reproducible on any engine/cluster)."""
        denom = 2.0 * self.total + self.n_bins
        return tuple((2.0 * c + 1) / denom for c in self.counts)


def _bin_col(col: str, ref: ReferenceHistogram):
    # Clamp BOTH ends: values past the top land in the last bin, negative
    # values in bin 0 — so fit_reference and batch_psi count out-of-range
    # data identically (unclamped, a negative bin would Python-wrap into
    # the LAST reference bin while the live side's spine join silently
    # dropped the same rows — inconsistent edges on a monitor whose job is
    # catching broken feeds).
    return F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.floor(F.col(col) / ref.bin_width).cast("bigint"),
            F.lit(ref.n_bins - 1),
        ),
    )


def fit_reference(df: DataFrame, col: str, bin_width: float, n_bins: int) -> ReferenceHistogram:
    """ONE bounded collect of ``n_bins`` longs over the reference frame.

    NULL observations are EXCLUDED on both the fit and the live side —
    without the explicit filter, ``least()``'s NULL-skipping semantics
    silently bucketed NULL metrics into the TOP bin as if they were
    extreme values (fuzzer finding).  A broken feed's NULL rate is a
    separate counter (archive quality meters), not distribution mass.
    """
    probe = ReferenceHistogram(bin_width, n_bins, (), 0)
    rows = (
        df.filter(F.col(col).isNotNull())
        .groupBy(_bin_col(col, probe).alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = [0] * n_bins
    for r in rows:
        counts[int(r["bin"])] = int(r["c"])
    return ReferenceHistogram(bin_width, n_bins, tuple(counts), sum(counts))


def batch_psi(batch: DataFrame, col: str, ref: ReferenceHistogram) -> DataFrame:
    """One-row frame (n_rows, psi, alert) for ``batch`` vs ``ref``.

    The reference probabilities enter as plan literals; bins absent from
    the batch still contribute (their smoothed probability is the
    1/(2n+B) floor), so the sum runs over ALL ``n_bins`` bins exactly like
    q_psi_drift's oracle.  NULL observations are excluded (``n_rows``
    counts scored rows only) — see ``fit_reference``."""
    counts = (
        batch.filter(F.col(col).isNotNull())
        .groupBy(_bin_col(col, ref).alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # left join the literal bin spine so empty bins surface with c=0
    spine = batch.sparkSession.range(ref.n_bins).select(
        F.col("id").alias("bin")
    )
    full = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    tot = full.agg(F.sum("c").alias("n"))
    pa_ref = F.element_at(
        F.expr(sql_literal(ref.smoothed)), F.col("bin").cast("int") + 1
    )
    probs = full.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        ((2.0 * F.col("c") + 1) / (2.0 * F.col("n") + ref.n_bins)).alias("pb"),
        pa_ref.alias("pa"),
    )
    addend = F.round(
        (F.col("pb") - F.col("pa")) * F.log(F.col("pb") / F.col("pa")), 12
    ).cast("decimal(28,12)")
    return probs.groupBy("n").agg(
        F.round(F.sum(addend).cast("double"), 9).alias("psi")
    ).select(
        F.col("n").cast("bigint").alias("n_rows"),
        "psi",
        (F.col("psi") > PSI_ALERT).alias("alert"),
    )


def monitor_stream(
    stream: DataFrame,
    col: str,
    ref: ReferenceHistogram,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor: one PSI row per micro-batch appended to
    ``output_path`` (parquet), keyed by batch_id for idempotent replay.

    Upgrade note: outputs written by the pre-partitioned (plain append)
    layout of this sink are NOT compatible — a leftover flat parquet dir
    mixes schemas with the ``batch_id=N`` directory layout for readers.
    Point an upgraded monitor at a CLEAN ``output_path``."""

    return start_batch_sink(
        stream, output_path, checkpoint_path,
        lambda batch, _: batch_psi(batch, col, ref),
    )
