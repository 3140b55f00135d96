"""Manifest-sink compaction: readers through _spark_metadata see identical
rows before/after, the physical small files fold away, a restarted stream
keeps appending, and re-runs are no-ops.
"""

from __future__ import annotations

import glob

import pytest

from bifrost_spark.streaming.manifest_compact import (
    compact_manifest_sink,
)


@pytest.fixture()
def manifest_sink(spark, tmp_path):
    """A stopped streaming query that produced several small part files
    per partition directory through the transactional file sink."""
    in_path, out_path = tmp_path / "in", tmp_path / "out"
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i, f"t{i % 2}", float(i)) for i in range(10)],
            "event_id long, topic string, value double",
        ).coalesce(1).write.mode("append").parquet(str(in_path))

    def run_stream():
        stream = (
            spark.readStream.schema("event_id long, topic string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_path))
        )
        q = (
            stream.writeStream.format("parquet")
            .partitionBy("topic")
            .option("path", str(out_path))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_stream()
    return str(in_path), str(out_path), run_stream


def _rows(spark, out_path):
    return {
        (r.event_id, r.topic, r.value)
        for r in spark.read.parquet(out_path).collect()
    }


def test_compaction_preserves_manifest_view(spark, manifest_sink, tmp_path):
    _in, out, _rerun = manifest_sink
    before = _rows(spark, out)
    assert len(before) == 40
    parts_before = glob.glob(f"{out}/topic=*/part-*.parquet")
    assert len(parts_before) >= 8  # 4 batches × 2 partitions

    stats = compact_manifest_sink(spark, out)
    assert stats.bins_written >= 2  # one bin per topic dir
    assert stats.files_after < stats.files_before

    assert _rows(spark, out) == before
    # physical small files gone, compacted files present
    assert not glob.glob(f"{out}/topic=*/part-*.parquet")
    assert glob.glob(f"{out}/topic=*/compacted-*.parquet")


def test_compaction_is_idempotent(spark, manifest_sink):
    _in, out, _rerun = manifest_sink
    compact_manifest_sink(spark, out)
    before = _rows(spark, out)
    stats2 = compact_manifest_sink(spark, out)
    assert stats2.bins_written == 0  # nothing left to fold
    assert _rows(spark, out) == before


def test_restarted_stream_appends_after_compaction(spark, manifest_sink):
    in_path, out, rerun = manifest_sink
    compact_manifest_sink(spark, out)
    before = _rows(spark, out)
    # new input arrives; the SAME checkpoint continues past compaction
    spark.createDataFrame(
        [(100 + i, f"t{i % 2}", float(i)) for i in range(10)],
        "event_id long, topic string, value double",
    ).coalesce(1).write.mode("append").parquet(in_path)
    rerun()
    after = _rows(spark, out)
    assert len(after) == len(before) + 10
    assert before <= after


def test_compaction_after_sparks_own_compact_batch(spark, tmp_path):
    """With fileSink.log.compactInterval small enough, Spark itself writes
    <b>.compact files; our compactor must replay from the latest one and
    commit on top of it."""
    spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "2")
    try:
        in_path, out_path = tmp_path / "in2", tmp_path / "out2"
        for b in range(5):
            spark.createDataFrame(
                [(b * 10 + i, float(i)) for i in range(5)],
                "event_id long, value double",
            ).coalesce(1).write.mode("append").parquet(str(in_path))
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_path))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out_path))
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        compacts = glob.glob(f"{out_path}/_spark_metadata/*.compact")
        assert compacts, "expected Spark's own compact batches"

        def rows():
            return {
                (r.event_id, r.value)
                for r in spark.read.parquet(str(out_path)).collect()
            }

        before = rows()
        assert len(before) == 25
        stats = compact_manifest_sink(spark, str(out_path))
        assert stats.bins_written >= 1
        assert rows() == before
    finally:
        spark.conf.unset("spark.sql.streaming.fileSink.log.compactInterval")


def test_recompaction_after_append_keeps_all_rows(spark, manifest_sink):
    """compact → stream appends → compact again.  The second cycle bins a
    LIVE compacted file together with the new small files; its output must
    get a fresh generation-stamped name, never delete the merged file it
    just wrote (the round-2 data-loss bug), and the view must stay exact
    through a third cycle."""
    in_path, out, rerun = manifest_sink
    compact_manifest_sink(spark, out)
    expected = _rows(spark, out)
    assert len(expected) == 40

    for round_no in range(2):
        spark.createDataFrame(
            [(1000 + round_no * 100 + i, f"t{i % 2}", float(i)) for i in range(10)],
            "event_id long, topic string, value double",
        ).coalesce(1).write.mode("append").parquet(in_path)
        rerun()
        expected = expected | {
            (1000 + round_no * 100 + i, f"t{i % 2}", float(i)) for i in range(10)
        }
        assert _rows(spark, out) == expected
        stats = compact_manifest_sink(spark, out)
        assert stats.bins_written >= 2
        assert _rows(spark, out) == expected
        # every manifest-listed file physically exists (the bug deleted
        # the re-compaction output while the manifest still listed it)
        for part in glob.glob(f"{out}/topic=*/compacted-*.parquet"):
            assert spark.read.parquet(part).count() > 0
    # folded down to one file per partition dir again
    assert not glob.glob(f"{out}/topic=*/part-*.parquet")
    assert len(glob.glob(f"{out}/topic=*/compacted-*.parquet")) == 2


def test_crashed_staging_dirs_are_swept(spark, manifest_sink, tmp_path):
    """A bin rewrite that crashed mid-write leaves '.compacted-*.tmp'
    staging dirs; the next compaction's garbage sweep must remove them."""
    import pathlib

    _in, out, _rerun = manifest_sink
    topic_dir = pathlib.Path(glob.glob(f"{out}/topic=*")[0])
    stale = topic_dir / ".compacted-g1-deadbeef.parquet.tmp"
    stale.mkdir()
    (stale / "part-orphan.parquet").write_bytes(b"junk")
    before = _rows(spark, out)
    stats = compact_manifest_sink(spark, out)
    assert not stale.exists()
    assert stats.garbage_removed >= 1
    assert _rows(spark, out) == before


def test_crash_mid_swap_recovers(spark, manifest_sink, monkeypatch):
    """Kill the swap after the FIRST rename (latest log already carries the
    new live set, earlier logs still hold the old adds, WAL on disk) — the
    next compaction run must replay the WAL to the committed state."""
    import bifrost_spark.streaming.compact as core

    _in, out, _rerun = manifest_sink
    before = _rows(spark, out)

    real_apply = core._apply_wal

    def crashing_apply(fs, jvm, wal):
        staged, final = (jvm.org.apache.hadoop.fs.Path(p) for p in wal["renames"][0])
        fs.delete(final, False)
        fs.rename(staged, final)
        raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(core, "_apply_wal", crashing_apply)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_manifest_sink(spark, out)
    monkeypatch.setattr(core, "_apply_wal", real_apply)

    assert glob.glob(f"{out}/_spark_metadata/.manifest-compaction-wal")
    # recovery runs automatically at the start of the next compaction
    stats = compact_manifest_sink(spark, out)
    assert stats.bins_written == 0  # recovery finished the prior run's work
    assert not glob.glob(f"{out}/_spark_metadata/.manifest-compaction-wal")
    assert _rows(spark, out) == before
    assert not glob.glob(f"{out}/topic=*/part-*.parquet")
