"""Streaming embedding-centroid drift monitor: per-micro-batch, per-label
L2 distance between the batch's centroids and a static reference centroid
table — "did today's embedding drop move?" per class, continuously.

This is the production deployment shape of ``q_centroid_drift``
(queries/curation_ops.py), the same pairing device as drift_monitor.py ↔
q_psi_drift: the reference centroids are fitted ONCE from a batch frame
(the standing corpus) by the SAME ``label_centroids`` aggregation the
batch query uses, so the per-batch outputs are the batch operator's
semantics by construction — the parity test holds with set equality, not
tolerance.

Scale shape: the per-batch work is one posexplode + map-side-combined
aggregate bounded at |labels|·d partial rows per task (the
q_embedding_centroid proof); the reference is a |labels|·d-row frame
joined in (broadcast while it fits — the same cardinality regime as
q_embedding_outliers' gated fold-back; beyond it Catalyst shuffle-joins).
No state-store state: the reference is an external artifact, refreshed on
the corpus's own compaction cadence, and cross-batch state lives in the
OUTPUT (one row per batch per label), so the monitor restarts cleanly
from any checkpoint.

Determinism mirrors q_centroid_drift: 9-dp-rounded centroids, 12-dp
squared differences summed in DECIMAL, sqrt rounded at 9 dp — a replayed
micro-batch emits identical rows, and the batch_id-partitioned
dynamic-overwrite sink (streaming/_sink.py) makes replay exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.curation_ops import label_centroids
from bifrost_spark.streaming._sink import start_batch_sink


def fit_reference_centroids(df: DataFrame) -> DataFrame:
    """Reference centroid table (label, pos, c_ref) from a batch frame.

    One bounded aggregation, materialized so every micro-batch probes the
    artifact instead of re-deriving it (Catalyst would re-run the
    aggregation per batch otherwise — no subtree reuse)."""
    return (
        label_centroids(df.filter(F.col("label").isNotNull()))
        .select("label", "pos", F.col("centroid_val").alias("c_ref"))
        .localCheckpoint(eager=True)
    )


def batch_centroid_drift(batch: DataFrame, ref: DataFrame) -> DataFrame:
    """(label, n_cur, drift) for one micro-batch against the reference —
    the q_centroid_drift reduction with the batch as the current side.

    Labels present in the batch but absent from the reference produce no
    row (inner join) — a NEW class is a schema event for the labeling
    pipeline, not a drift measurement; same with the reverse direction."""
    cur = label_centroids(batch.filter(F.col("label").isNotNull())).select(
        "label", "pos",
        F.col("n_vecs").alias("n_c"), F.col("centroid_val").alias("c_cur"),
    )
    diff = F.col("c_cur") - F.col("c_ref")
    d2 = (
        cur.join(ref, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.max("n_c").alias("n_cur"),
            F.sum(F.round(diff * diff, 12).cast("decimal(28,12)")).alias("drift2"),
        )
    )
    return d2.select(
        "label",
        "n_cur",
        F.round(F.sqrt(F.col("drift2").cast("double")), 9).alias("drift"),
    )


def start_centroid_drift(
    stream: DataFrame,
    ref: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor: every micro-batch emits its per-label drift rows
    to the batch_id-partitioned replay-idempotent sink."""

    return start_batch_sink(
        stream, output_path, checkpoint_path,
        lambda batch, _: batch_centroid_drift(batch, ref),
    )
