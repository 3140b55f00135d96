"""Archive compaction (streaming/compact.py): small-leaf merge preserves
rows, offset order, and the name==first-offset invariant; the one
write-ahead swap every compaction job commits through (offset layout,
manifest sink, upsert state) converges from a crash at each of its steps."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bifrost_spark.streaming import compact as core
from bifrost_spark.streaming.compact import compact_archive
from bifrost_spark.streaming.manifest_compact import compact_manifest_sink
from bifrost_spark.streaming.upsert import compact_state, read_state, upsert_batch

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


def _leaves(root, p):
    leaf_dir = f"{root}/grp/evt/partition={p}"
    return sorted(n for n in os.listdir(leaf_dir) if core._LEAF_RE.match(n))


def _check_chain(spark, root, n_rows):
    """Every leaf is named by its first offset and starts where the
    previous one ended; together they hold offsets [0, n_rows)."""
    for p in (0, 1):
        expected_next = 0
        for name in _leaves(root, p):
            got = [
                r.offset
                for r in spark.read.parquet(f"{root}/grp/evt/partition={p}/{name}").collect()
            ]
            assert got == list(range(expected_next, expected_next + len(got)))
            assert name == f"{expected_next:010d}.parquet"
            expected_next += len(got)
        assert expected_next == n_rows


def _hidden(root):
    """Dot-named entries under ``root`` (a WAL or staged output), ignoring
    the local filesystem's ``.crc`` checksum files."""
    return [
        os.path.join(dp, n)
        for dp, dns, fns in os.walk(root)
        for n in dns + fns
        if n.startswith(".") and not n.endswith(".crc")
    ]


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
    """Crash after the WAL and the bin's rename, before the deletes: the
    compacted leaf, a surviving source leaf and the WAL are on disk.  The
    next run must finish the deletes without duplicating the surviving
    leaf's rows."""
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    leaf_dir = f"{root}/grp/evt/partition=0"
    srcs = [f"{leaf_dir}/0000000000.parquet", f"{leaf_dir}/0000000010.parquet"]
    out = str(tmp_path / "bin")
    spark.read.parquet(*srcs).sort("offset").coalesce(1).write.parquet(out)
    shutil.rmtree(srcs[0])
    shutil.move(glob.glob(f"{out}/part-*")[0], srcs[0])  # the rename committed
    wal = {"renames": [[f"{leaf_dir}/.0000000000.parquet", srcs[0]]], "deletes": srcs[1:]}
    with open(f"{root}/.compaction-wal", "w") as fh:
        fh.write(json.dumps(wal) + "\n")
    compact_archive(spark, root, target_bytes=10**9)
    assert _leaves(root, 0) == ["0000000000.parquet"]
    assert os.path.isfile(srcs[0])
    assert _hidden(root) == []
    assert _rows(spark, root) == before


def test_recovery_drops_stale_tmp(spark, tmp_path):
    """Crash before the WAL of a run with a smaller target: sources
    intact, and that run's staged bin from offset 10 and its Spark output
    directory are garbage the next run (one bin from offset 0) does not
    overwrite."""
    root = str(tmp_path / "arch")
    _make_archive(spark, root)
    before = _rows(spark, root)
    leaf_dir = f"{root}/grp/evt/partition=1"
    _leaf_df(spark, 1, 1).coalesce(1).write.parquet(f"{leaf_dir}/.0000000010.parquet.tmp")
    shutil.copy(
        glob.glob(f"{leaf_dir}/.0000000010.parquet.tmp/part-*")[0],
        f"{leaf_dir}/.0000000010.parquet",
    )
    compact_archive(spark, root, target_bytes=10**9)
    assert _hidden(root) == []
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
    ``<first>.parquet``; compaction must bin them into single files of the
    same form, and a later run must bin a compacted leaf together with
    newly drained ones."""
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

    def rows():
        return {
            (p, r.offset, bytes(r.value))
            for p in (0, 1)
            for r in spark.read.parquet(f"{root}/grp/evt/partition={p}/*.parquet")
            .collect()
        }

    def leaves(p):
        names = _leaves(root, p)
        assert all(os.path.isfile(f"{root}/grp/evt/partition={p}/{n}") for n in names)
        return names

    drain(range(3))
    assert len(leaves(0)) == len(leaves(1)) == 3
    before = rows()
    stats = compact_archive(spark, root, target_bytes=10**9)
    assert (stats.partitions_seen, stats.leaves_before, stats.leaves_after) == (2, 6, 2)
    assert leaves(0) == leaves(1) == ["0000000000.parquet"]
    assert rows() == before
    _check_chain(spark, root, 3 * LEAF_ROWS)

    drain(range(3, 5))  # the compacted leaf now sits beside new leaves
    before = rows()
    stats = compact_archive(spark, root, target_bytes=10**9)
    assert (stats.leaves_before, stats.leaves_after) == (6, 2)
    assert leaves(0) == leaves(1) == ["0000000000.parquet"]
    assert rows() == before
    _check_chain(spark, root, 5 * LEAF_ROWS)


def _offset_job(spark, tmp_path):
    root = str(tmp_path / "arch")
    _make_archive(spark, root)  # directory leaves: the deletes must recurse

    def check():
        _check_chain(spark, root, LEAVES * LEAF_ROWS)

    return root, lambda: compact_archive(spark, root, target_bytes=10**9), (
        lambda: _rows(spark, root)
    ), check


def _manifest_job(spark, tmp_path):
    in_path, out = str(tmp_path / "in"), str(tmp_path / "out")
    schema = "event_id long, topic string"
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i, f"t{i % 2}") for i in range(10)], schema
        ).coalesce(1).write.mode("append").parquet(in_path)
    q = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_path)
        .writeStream.format("parquet").partitionBy("topic")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    def check():
        assert not glob.glob(f"{out}/**/part-*", recursive=True)

    return out, lambda: compact_manifest_sink(spark, out), (
        lambda: {tuple(r) for r in spark.read.parquet(out).collect()}
    ), check


def _upsert_job(spark, tmp_path):
    path = str(tmp_path / "state")
    schema = "key long, payload string, version long"
    batches = [[(1, "a", 10), (2, "b", 10)], [(1, "a2", 20), (3, "c", 20)], [(2, "b3", 30)]]
    for b, rows in enumerate(batches):
        upsert_batch(spark.createDataFrame(rows, schema), b, path, ["key"], "version", ["payload"])

    def check():
        assert len(glob.glob(f"{path}/delta/batch_id=*")) == 1

    return path, lambda: compact_state(spark, path, ["key"], "version", ["payload"]), (
        lambda: {tuple(r) for r in read_state(spark, path, ["key"], "version", ["payload"]).collect()}
    ), check


@pytest.mark.parametrize(
    "point",
    ["after-staged-writes", "after-wal", "after-first-rename", "after-renames"],
)
@pytest.mark.parametrize("job", [_offset_job, _manifest_job, _upsert_job],
                         ids=["offset", "manifest", "upsert"])
def test_crash_at_each_swap_step_converges(spark, tmp_path, monkeypatch, job, point):
    """Crash every compaction job inside the one write-ahead swap: after
    its staged writes (no WAL yet), after the WAL, after the first rename
    and after every rename (deletes pending).  Readers keep every row
    throughout, and the next run converges: the same rows, no WAL or
    staged output left, and the job's own layout invariant."""
    root, compact_once, rows, check = job(spark, tmp_path)
    before = rows()
    real_swap, real_apply = core._swap, core._apply_wal

    def crashing_apply(fs, jvm, wal):
        keep = {"after-wal": 0, "after-first-rename": 1}.get(point, len(wal["renames"]))
        real_apply(fs, jvm, {"renames": wal["renames"][:keep], "deletes": []})
        raise RuntimeError("simulated crash")

    def crashing_swap(*args):
        if point == "after-staged-writes":
            raise RuntimeError("simulated crash")
        monkeypatch.setattr(core, "_apply_wal", crashing_apply)
        real_swap(*args)

    monkeypatch.setattr(core, "_swap", crashing_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_once()
    monkeypatch.setattr(core, "_swap", real_swap)
    monkeypatch.setattr(core, "_apply_wal", real_apply)
    assert rows() == before

    compact_once()
    assert rows() == before
    assert _hidden(root) == []
    check()
