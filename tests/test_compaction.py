"""Archive compaction (streaming/compact.py): small-leaf merge preserves
rows, offset order, and the name==first-offset invariant; the write-ahead
manifest protocol recovers from simulated mid-compaction crashes."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from bifrost_spark.streaming.compact import compact_archive

LEAVES = 5
LEAF_ROWS = 10


def _leaf_df(spark, p, b):
    return spark.range(b * LEAF_ROWS, (b + 1) * LEAF_ROWS).select(
        F.lit("evt").alias("topic"),
        F.lit(p).cast("int").alias("partition"),
        F.col("id").alias("offset"),
        F.encode(F.concat(F.lit("m"), F.col("id")), "UTF-8").alias("value"),
        F.timestamp_millis(F.col("id") * 1000).alias("ts"),
    )


def _make_archive(spark, root):
    for p in (0, 1):
        for b in range(LEAVES):
            (
                _leaf_df(spark, p, b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{root}/grp/evt/partition={p}/{b * LEAF_ROWS:010d}.parquet")
            )


def _rows(spark, root):
    return {
        (r.partition, r.offset, bytes(r.value))
        for r in spark.read.parquet(
            *[f"{root}/grp/evt/partition={p}/*.parquet" for p in (0, 1)]
        ).collect()
    }


def test_compact_merges_and_preserves(spark, tmp_path):
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    stats = compact_archive(spark, root, target_bytes=10**9)  # everything → 1 bin
    assert stats.partitions_seen == 2
    assert stats.leaves_before == 2 * LEAVES
    assert stats.leaves_after == 2
    for p in (0, 1):
        leaf_dir = f"{root}/grp/evt/partition={p}"
        names = sorted(n for n in os.listdir(leaf_dir) if n.endswith(".parquet"))
        assert names == ["0000000000.parquet"]  # name == first offset
        got = spark.read.parquet(f"{leaf_dir}/{names[0]}").collect()
        assert [r.offset for r in got] == sorted(r.offset for r in got)
    assert _rows(spark, root) == before


def test_compact_bins_by_target_bytes(spark, tmp_path):
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    leaf_dir = f"{root}/grp/evt/partition=0"
    one_leaf_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fns in os.walk(f"{leaf_dir}/0000000000.parquet")
        for f in fns
    )
    # ~2 leaves per bin → strictly fewer leaves, but more than one
    compact_archive(spark, root, target_bytes=int(one_leaf_bytes * 2.5))
    names = sorted(n for n in os.listdir(leaf_dir) if n.endswith(".parquet"))
    assert 1 < len(names) < LEAVES
    for name in names:  # name == first offset it contains, runs contiguous
        got = sorted(
            r.offset for r in spark.read.parquet(f"{leaf_dir}/{name}").collect()
        )
        assert name == f"{got[0]:010d}.parquet"
        assert got == list(range(got[0], got[0] + len(got)))
    assert _rows(spark, root) == before
    # repeated runs converge: merged leaves are smaller than the sum of
    # their parts, so a few more merges may fit the target — but the
    # process must reach a fixpoint (no-op run) quickly and keep the rows
    for _ in range(4):
        if compact_archive(spark, root, target_bytes=int(one_leaf_bytes * 2.5)).bins_written == 0:
            break
    else:
        raise AssertionError("compaction did not reach a fixpoint in 4 runs")
    assert _rows(spark, root) == before


def test_recovery_finishes_interrupted_commit(spark, tmp_path):
    """Crash after manifest write, mid-delete: tmp + manifest + a surviving
    source leaf.  The next run must finish deletes + rename without
    duplicating the surviving leaf's rows."""
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    leaf_dir = f"{root}/grp/evt/partition=0"
    srcs = ["0000000000.parquet", "0000000010.parquet"]
    (
        spark.read.parquet(*[f"{leaf_dir}/{s}" for s in srcs])
        .sort("offset")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{leaf_dir}/0000000000.parquet.compact-tmp")
    )
    with open(f"{leaf_dir}/0000000000.parquet.compact-manifest", "w") as fh:
        fh.write("\n".join(srcs))
    shutil.rmtree(f"{leaf_dir}/0000000010.parquet")  # crash mid-delete
    compact_archive(spark, root, target_bytes=10**9)
    names = sorted(n for n in os.listdir(leaf_dir) if n.endswith(".parquet"))
    assert names == ["0000000000.parquet"]
    assert not any("compact" in n for n in os.listdir(leaf_dir))
    assert _rows(spark, root) == before


def test_recovery_drops_stale_tmp(spark, tmp_path):
    """Crash before the manifest: sources intact, tmp is garbage."""
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    leaf_dir = f"{root}/grp/evt/partition=1"
    (
        _leaf_df(spark, 1, 0)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{leaf_dir}/0000000000.parquet.compact-tmp")
    )
    compact_archive(spark, root, target_bytes=10**9)
    assert not any("compact" in n for n in os.listdir(leaf_dir))
    assert _rows(spark, root) == before


def _stage_messages(spark, in_path, first, n_rows):
    """One input file per rotation: offsets [first, first + n_rows) of
    both partitions of topic ``evt``."""
    (
        spark.range(first, first + n_rows)
        .crossJoin(spark.range(2).select(F.col("id").cast("int").alias("partition")))
        .select(
            F.lit("evt").alias("topic"),
            "partition",
            F.col("id").alias("offset"),
            F.encode(F.concat(F.lit("m"), F.col("id")), "UTF-8").alias("value"),
            F.timestamp_millis(F.col("id") * 1000).alias("ts"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(in_path)
    )


def test_compacts_offset_named_archive_output(spark, tmp_path):
    """The offset-named writer's leaves are single FILES named
    ``<first>.parquet``; compaction must bin them (not only directory
    leaves), and a later run must bin the compactor's own directory leaf
    together with newly drained file leaves."""
    from bifrost_spark.streaming.archive import (
        ArchiveConfig,
        start_offset_named_archive,
    )

    in_path, root = str(tmp_path / "in"), str(tmp_path / "out")
    cfg = ArchiveConfig(
        output_path=root,
        checkpoint_path=str(tmp_path / "ckpt"),
        input_path=in_path,
        max_files_per_trigger=1,
        rotation_interval_secs=0,
        group_id="grp",
    )

    def drain(rotations):
        for b in rotations:
            _stage_messages(spark, in_path, b * LEAF_ROWS, LEAF_ROWS)
        q = start_offset_named_archive(spark, cfg)
        q.processAllAvailable()
        q.stop()

    def leaves(p):
        leaf_dir = f"{root}/grp/evt/partition={p}"
        return sorted(n for n in os.listdir(leaf_dir) if n.endswith(".parquet"))

    def rows():
        return {
            (p, r.offset, bytes(r.value))
            for p in (0, 1)
            for r in spark.read.parquet(f"{root}/grp/evt/partition={p}/*.parquet")
            .collect()
        }

    def check(n_rows):
        for p in (0, 1):
            expected_next = 0
            for name in leaves(p):  # name == first offset, runs chain
                got = [
                    r.offset
                    for r in spark.read.parquet(f"{root}/grp/evt/partition={p}/{name}")
                    .collect()
                ]
                assert got == list(range(expected_next, expected_next + len(got)))
                assert name == f"{expected_next:010d}.parquet"
                expected_next += len(got)
            assert expected_next == n_rows

    drain(range(3))
    assert all(
        os.path.isfile(f"{root}/grp/evt/partition=0/{n}") for n in leaves(0)
    )
    assert len(leaves(0)) == len(leaves(1)) == 3
    before = rows()
    stats = compact_archive(spark, root, target_bytes=10**9)
    assert (stats.partitions_seen, stats.leaves_before, stats.leaves_after) == (2, 6, 2)
    assert leaves(0) == leaves(1) == ["0000000000.parquet"]
    assert rows() == before
    check(3 * LEAF_ROWS)

    drain(range(3, 5))  # the directory leaf now sits beside file leaves
    before = rows()
    stats = compact_archive(spark, root, target_bytes=10**9)
    assert (stats.leaves_before, stats.leaves_after) == (6, 2)
    assert leaves(0) == leaves(1) == ["0000000000.parquet"]
    assert rows() == before
    check(5 * LEAF_ROWS)
