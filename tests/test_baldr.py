"""Baldr-framed gzip archive (sources/baldr.py): frame codec unit tests,
distributed write→read round-trip, reference key layout, and byte-stable
(reproducible) object output."""

from __future__ import annotations

import glob
import gzip
import hashlib
import os
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.sources.baldr import (
    frame_records,
    read_baldr_archive,
    unframe_records,
    write_baldr_archive,
)
from bifrost_spark.tables import load_table


def test_frame_codec_roundtrip_and_layout():
    recs = [b"", b"a", b"hello world", bytes(range(256))]
    framed = frame_records(recs)
    # layout: 8-byte big-endian length then payload, concatenated
    assert framed[:8] == struct.pack(">q", 0)
    assert framed[8:16] == struct.pack(">q", 1)
    assert unframe_records(framed) == recs


def test_unframe_rejects_truncation():
    framed = frame_records([b"abc"])
    with pytest.raises(ValueError):
        unframe_records(framed[:-1])
    with pytest.raises(ValueError):
        unframe_records(framed + b"\x00\x00\x00")


@pytest.fixture(scope="module")
def messages(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("topic", "partition").orderBy("eid")
    return (
        ev.select(
            F.col("event_type").alias("topic"),
            F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
            F.col("event_id").alias("eid"),
            F.encode("props", "UTF-8").alias("value"),
        )
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .drop("eid")
    )


def test_baldr_write_read_roundtrip(spark, messages, tmp_path):
    root = str(tmp_path / "arch")
    mrows = write_baldr_archive(messages, root)
    assert sum(r.n_records for r in mrows) == messages.count()
    # reference object keys: <group>/<topic>/partition=<p>/<%010d>.baldr.gz
    for r in mrows:
        assert r.path.endswith(f"partition={r.partition}/{r.first_offset:010d}.baldr.gz")
        assert f"/{r.topic}/" in r.path
    back = read_baldr_archive(spark, root)
    orig = {
        (r.topic, r.partition, r.offset, bytes(r.value)) for r in messages.collect()
    }
    got = {(r.topic, r.partition, r.offset, bytes(r.value)) for r in back.collect()}
    assert got == orig


def test_baldr_objects_are_byte_reproducible(spark, messages, tmp_path):
    """Same input → byte-identical objects (gzip mtime pinned): the digest
    equality that makes re-upload idempotence externally checkable."""
    r1, r2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_baldr_archive(messages, r1)
    write_baldr_archive(messages, r2)

    def digests(root):
        out = {}
        for p in glob.glob(f"{root}/**/*.baldr.gz", recursive=True):
            rel = os.path.relpath(p, root)
            out[rel] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    d1, d2 = digests(r1), digests(r2)
    assert d1 and d1 == d2


def test_baldr_gzip_stream_is_plain_gzip(spark, messages, tmp_path):
    """Objects must be readable by ANY gzip consumer (the reference's
    downstream tooling contract) — not just our reader."""
    root = str(tmp_path / "arch")
    write_baldr_archive(messages, root)
    some = glob.glob(f"{root}/**/*.baldr.gz", recursive=True)[0]
    raw = gzip.decompress(open(some, "rb").read())
    recs = unframe_records(raw)
    assert recs and all(isinstance(r, bytes) for r in recs)


def test_streaming_baldr_archive_roundtrip(spark, messages, tmp_path):
    """foreachBatch baldr writer (A7 exact-output path): drain the staged
    stream, read every .baldr.gz back, require exact equality with the
    input messages."""
    from bifrost_spark.streaming.archive import ArchiveConfig, start_baldr_archive

    in_path = str(tmp_path / "in")
    (
        messages.withColumn("ts", F.timestamp_millis(F.col("offset") * 1000))
        .coalesce(2)
        .write.parquet(in_path)
    )
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=1,
        rotation_interval_secs=1,
    )
    q = start_baldr_archive(spark, cfg)
    q.processAllAvailable()
    q.stop()

    back = read_baldr_archive(spark, str(tmp_path / "out"))
    got = {(r.topic, r.partition, r.offset, bytes(r.value)) for r in back.collect()}
    orig = {
        (r.topic, r.partition, r.offset, bytes(r.value)) for r in messages.collect()
    }
    assert got == orig


def test_baldr_write_rejects_offset_gaps(spark, tmp_path):
    """The wire format encodes only the first offset per object; a gapped
    run would silently read back with wrong offsets, so the writer refuses
    it (compacted/transactional-topic semantics need the parquet sink)."""
    from pyspark.sql.utils import PythonException

    gapped = spark.createDataFrame(
        [("t", 0, 0, b"a"), ("t", 0, 2, b"b")],
        "topic string, partition int, offset long, value binary",
    )
    with pytest.raises(PythonException, match="non-contiguous offset run"):
        write_baldr_archive(gapped, str(tmp_path / "arch"))


def test_baldr_write_rejects_null_payload_leaving_no_object(spark, tmp_path):
    """A null payload (a Kafka tombstone) has no baldr frame: the writer
    refuses the run before it opens any file, so no empty or partial
    object is left at a real key."""
    from pyspark.sql.utils import PythonException

    msgs = spark.createDataFrame(
        [("t", 0, 10, b"a"), ("t", 0, 11, None), ("t", 0, 12, b"c")],
        "topic string, partition int, offset long, value binary",
    )
    root = str(tmp_path / "arch")
    with pytest.raises(PythonException, match="null payload at t/partition=0 offset 11"):
        write_baldr_archive(msgs, root)
    assert glob.glob(f"{root}/**/*.baldr.gz", recursive=True) == []


def test_baldr_write_materializes_immediately(spark, messages, tmp_path):
    """write_baldr_archive must run the side-effecting write before
    returning — files exist without the caller taking any action."""
    root = str(tmp_path / "arch_eager")
    write_baldr_archive(messages, root)
    assert glob.glob(f"{root}/**/*.baldr.gz", recursive=True)


def test_baldr_write_splits_many_keys_per_task(spark, tmp_path):
    """Each write task holds many keys (a 64-key benchmark backlog over
    ``defaultParallelism`` tasks): every object holds exactly its own
    key's run, and the archive reads back equal to the input."""
    from perfbench import backlog as pb_backlog

    backlog = pb_backlog.generate(str(tmp_path / "in"), seed=13, n_files=3)
    assert len(backlog.runs) > spark.sparkContext.defaultParallelism
    root = str(tmp_path / "arch")
    for f in sorted(glob.glob(f"{backlog.path}/*.parquet")):  # one rotation each
        manifest = write_baldr_archive(spark.read.parquet(f), root)
        assert len(manifest) == len(backlog.runs)
    got = {
        (r.topic, r.partition, r.offset): bytes(r.value)
        for r in read_baldr_archive(spark, root).collect()
    }
    expected = {
        (t, p, base + i): v
        for (t, p), (base, values) in backlog.runs.items()
        for i, v in enumerate(values)
    }
    assert got == expected
