"""Streaming MinHash near-dup admission — the streaming twin of
``q_dedup_incremental_minhash``.

A production crawl ingests continuously, but fuzzy dedup against the
standing corpus must not rebuild anything per trigger.  The split here:

* **index build (batch, offline)** — :func:`build_signature_index`
  explodes the standing corpus's MinHash signatures into the
  (band, bucket, doc_id, signature) table that
  ``operators/dedup.py::lsh_probe_pairs`` documents as the persistable
  artifact.  Write it to parquet (bucketed by (band, bucket) at scale)
  and refresh it on the corpus's own compaction cadence — the stream
  never touches corpus text.
* **probe (per micro-batch)** — :func:`start_fuzzy_dedup` runs a
  per-batch sink: each batch's signatures are computed in-flight, probe the
  static index on the 16-byte (band, bucket) keys, and every batch doc is
  emitted with its verdict — ``dup_of``/``est_jaccard`` for near-dups
  over the threshold, NULLs for admitted docs (routing, not silent
  dropping: downstream decides to quarantine or keep).  Per batch
  because signature building is an aggregation (per-doc min over seeds)
  feeding a join — not expressible in a single continuous plan — the
  same per-batch discipline as ``drift_monitor.py``.

State: NONE in the state store — the index is an external, versioned
artifact.  Replay idempotence is by construction: the batch_id-partitioned
sink (streaming/_sink.py) rewrites a replayed batch's own partition.

Parity: the per-batch verdicts are the batch operator's semantics — the
test gates the streaming output against the q_dedup_incremental_minhash
spelling on the same corpus split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from bifrost_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS_PER_BAND,
    MINHASH_HASHES,
    est_jaccard_col,
    explode_band_buckets,
    minhash_signatures,
)

#: Shared with the batch twin via the canonical family constants
#: (operators/dedup.py) and llm_dedup's threshold — one retune point.
from bifrost_spark.queries.llm_dedup import JACCARD_THRESHOLD as DUP_THRESHOLD
from bifrost_spark.streaming._sink import start_batch_sink


def build_signature_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Standing-corpus band-bucket index: (band, bucket, doc_id, signature).

    One corpus pass; |docs|·LSH_BANDS rows of 16-byte keys + 64-long
    signatures.  Persist with ``df.write.bucketBy(n, "band", "bucket")``
    (io.py::write_bucketed_table) so every probe join is shuffle-free on
    the index side."""
    sig = minhash_signatures(
        docs, text_col, id_col, num_hashes=MINHASH_HASHES, winnow_mod=2,
        shingle="word",
    )
    return explode_band_buckets(
        sig, id_col, "index_id", "sig_i", LSH_BANDS, LSH_ROWS_PER_BAND
    )


def probe_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = DUP_THRESHOLD,
) -> DataFrame:
    """Verdict for every batch doc: (…batch columns…, dup_of, est_jaccard).

    Batch signatures probe the index's (band, bucket) keys; a doc's BEST
    match (highest estimate, lowest index id on ties — deterministic under
    replay) is attached when it clears the threshold, else NULLs.  Docs
    that produce no signature (NULL/empty text) are admitted — they have
    no fuzzy identity to collide on, and exact dedup upstream already
    handles byte-identical copies."""
    sig = minhash_signatures(
        batch, text_col, id_col, num_hashes=MINHASH_HASHES, winnow_mod=2,
        shingle="word",
        # r12 (ADVICE r11): a micro-batch is small by construction; the
        # kernel's keyed spread would pay a cluster-wide exchange per
        # batch for compute that fits the batch's own partitions.
        spread_input=False,
    ).localCheckpoint(eager=True)  # feeds the probe join once per batch
    probes = explode_band_buckets(
        sig, id_col, id_col, "sig_p", LSH_BANDS, LSH_ROWS_PER_BAND
    )
    cand = (
        probes.join(index, ["band", "bucket"])
        .dropDuplicates([id_col, "index_id"])
        .select(
            id_col,
            "index_id",
            est_jaccard_col("sig_p", "sig_i").alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("est_jaccard"), F.asc("index_id")
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("index_id").alias("dup_of"),
            "est_jaccard",
        )
    )
    return batch.join(best, id_col, "left")


def start_fuzzy_dedup(
    stream: DataFrame,
    index: DataFrame,
    output_path: str,
    checkpoint_path: str,
    threshold: float = DUP_THRESHOLD,
) -> StreamingQuery:
    """Start the probe flow: every incoming doc is written with its
    verdict to the batch_id-partitioned replay-idempotent sink."""

    return start_batch_sink(
        stream, output_path, checkpoint_path,
        lambda batch, _: probe_batch(batch, index, threshold=threshold),
    )
