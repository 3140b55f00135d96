"""Archive compaction (OPTIMIZE-style maintenance job) and the one
crash-safe compaction core every compaction job shares.

The offset-named archive (archive.py:start_offset_named_archive — the
engine's rendering of the reference's one-object-per-rotation S3 layout,
s3.clj:15-20) accumulates one small leaf per (topic, partition, rotation).
At a 60 s rotation that is 1 440 objects/partition/day — death by listing
for every downstream scan.  ``compact_archive`` rewrites runs of
consecutive small leaves into fewer large ones while preserving the
layout's two invariants:

  * **leaf name == first offset it contains** (`%010d.parquet`) — so the
    re-upload idempotence story (same first offset → same key) survives
    compaction unchanged;
  * **offset order within a leaf** — rows are sorted by offset before the
    rewrite, so a leaf is still a contiguous, ordered offset run, written
    as ONE file like the writer's own leaves.

The core, shared with ``manifest_compact.compact_manifest_sink`` and
``upsert.compact_state``:

  * ``_bins`` — greedy bins of consecutive items up to a byte target;
  * ``_write_one_file`` — a bin rewritten as one parquet file;
  * ``_read_lines`` / ``_write_lines`` — small Hadoop text files (the WAL,
    the sink log);
  * the write-ahead swap.  A job writes each output whose final name is
    live (or must appear atomically) under its STAGED name, the hidden
    sibling ``.<name>`` that Spark's listing and the leaf patterns skip.
    ``_swap`` then persists a WAL of ``renames`` (staged → final) and
    ``deletes`` (superseded sources, recursive: a source leaf may be a
    directory), applies it and drops it.  Every run first finishes a
    leftover WAL (``_replay_wal``) and then deletes the staged outputs no
    WAL names (``_drop_staged``).

Crash-state table (the same for every job; "rows twice" is the
manifest sink's union of old and new log adds, the offset layout's
surviving sources beside a committed leaf, and for the upsert state a
superseded delta that ``read_state`` resolves to the identical view):

  ====================================  ======================  ===========================
  crash                                 readers see             next run
  ====================================  ======================  ===========================
  during/after staged writes, no WAL    the old view            drops staged, redoes the job
  after WAL, before the first rename    the old view            replays every rename+delete
  after some renames                    every row, some twice   replays the rest of the WAL
  after the renames, before deletes     every row, some twice   re-issues the deletes
  ====================================  ======================  ===========================

A WAL rename whose staged output is gone already committed, and deletes
are idempotent, so a crash during a replay is just another row of the
table.  The WAL itself is written to a temp name and renamed into place,
so a crash while writing it leaves no WAL.

Scale shape: the per-leaf listing loop runs on the driver but only over the
KEY SET (topics × partitions × files — the same bound the reference's
uploader pool iterates, s3.clj:120); every bin rewrite is a distributed
read→sort→write job.  On object stores rename is copy+delete (not atomic);
the swap covers that window too, because a source is deleted only after
every rename of its WAL.
"""

from __future__ import annotations

import json
import posixpath
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from bifrost_spark.streaming._sink import hadoop_fs

_LEAF_RE = re.compile(r"^(\d{10})\.parquet$")
_WAL_NAME = ".compaction-wal"


@dataclass
class CompactStats:
    partitions_seen: int = 0
    leaves_before: int = 0
    leaves_after: int = 0
    bins_written: int = 0
    bytes_rewritten: int = 0


def _bins(items: list, sizes: list[int], target_bytes: int) -> list[list]:
    """Greedy bins of consecutive items: a bin closes before the item that
    would take it past ``target_bytes`` (a larger item is a bin alone)."""
    bins, cur, cur_bytes = [], [], 0
    for item, size in zip(items, sizes):
        if cur and cur_bytes + size > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append(item)
        cur_bytes += size
    return bins + [cur] if cur else bins


def _staged(path: str) -> str:
    """The staged name of ``path``: its hidden sibling ``.<name>``."""
    head, name = posixpath.split(path)
    return f"{head}/.{name}"


def _read_lines(fs, jvm, path: str) -> list[str]:
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8").splitlines()
    finally:
        stream.close()


def _write_lines(fs, jvm, path: str, lines: list[str]) -> None:
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(("\n".join(lines) + "\n").encode("utf-8"))
    finally:
        out.close()


def _write_one_file(df: DataFrame, path: str):
    """Write ``df`` as ONE parquet file at ``path``, rows in ``df``'s
    order, and return its FileStatus.  Spark writes into the hidden
    directory ``.<name>.tmp`` beside it (``<name>`` without a leading
    dot), whose single part file is then moved to ``path``."""
    spark = df.sparkSession
    fs, Path = hadoop_fs(spark, path), spark._jvm.org.apache.hadoop.fs.Path
    head, name = posixpath.split(path)
    tmp = Path(f"{head}/.{name.lstrip('.')}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString())
    (part,) = [
        st.getPath() for st in fs.listStatus(tmp) if st.getPath().getName().startswith("part-")
    ]
    final = Path(path)
    fs.delete(final, True)
    fs.rename(part, final)
    fs.delete(tmp, True)
    return fs.getFileStatus(final)


def _apply_wal(fs, jvm, wal: dict) -> None:
    """Each rename whose staged output still exists replaces its final
    path (one that is gone already committed), then every delete."""
    Path = jvm.org.apache.hadoop.fs.Path
    for staged, final in wal["renames"]:
        if fs.exists(Path(staged)):
            fs.delete(Path(final), True)
            fs.rename(Path(staged), Path(final))
    for path in wal["deletes"]:
        fs.delete(Path(path), True)


def _swap(fs, jvm, wal_path: str, renames: list, deletes: list[str]) -> None:
    """Commit staged outputs: persist the WAL (the commit point), apply
    it, drop it."""
    Path = jvm.org.apache.hadoop.fs.Path
    wal = {"renames": renames, "deletes": deletes}
    _write_lines(fs, jvm, wal_path + ".tmp", [json.dumps(wal)])
    fs.rename(Path(wal_path + ".tmp"), Path(wal_path))
    _apply_wal(fs, jvm, wal)
    fs.delete(Path(wal_path), False)


def _replay_wal(fs, jvm, wal_path: str) -> None:
    """Finish the swap a crash interrupted, if its WAL is on disk."""
    Path = jvm.org.apache.hadoop.fs.Path
    fs.delete(Path(wal_path + ".tmp"), False)  # cut off before the commit point
    if fs.exists(Path(wal_path)):
        _apply_wal(fs, jvm, json.loads(_read_lines(fs, jvm, wal_path)[0]))
        fs.delete(Path(wal_path), False)


def _drop_staged(fs, dir_path, final_re: re.Pattern) -> None:
    """Delete the staged outputs in ``dir_path`` no WAL names (run after
    ``_replay_wal``): every ``.<name>`` or ``.<name>.tmp`` entry whose
    ``<name>`` ``final_re`` matches."""
    for st in fs.listStatus(dir_path) or []:
        name = st.getPath().getName()
        if name.startswith(".") and final_re.match(name[1:].removesuffix(".tmp")):
            fs.delete(st.getPath(), True)


def compact_archive(
    spark: SparkSession,
    archive_root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> CompactStats:
    """Compact every ``.../partition=<p>`` directory under ``archive_root``.

    Consecutive leaves (by offset) are greedily binned until a bin would
    exceed ``target_bytes``; single-leaf bins are left untouched.  A bin
    is written to the staged name of its first leaf and committed, with
    every other bin of the run, by one swap: the rename onto the first
    leaf plus the deletes of the others.  Returns counts for
    observability (the listener/metrics analog for maintenance).
    """
    fs, jvm = hadoop_fs(spark, archive_root), spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    wal_path = f"{archive_root}/{_WAL_NAME}"
    _replay_wal(fs, jvm, wal_path)
    stats = CompactStats()
    renames, deletes = [], []
    for part_status in fs.globStatus(Path(archive_root + "/*/*/partition=*")) or []:
        part_dir = part_status.getPath()
        if not part_status.isDirectory():
            continue
        stats.partitions_seen += 1
        _drop_staged(fs, part_dir, _LEAF_RE)
        leaves = []  # (first_offset, path, bytes)
        for st in fs.listStatus(part_dir):
            # a leaf is the writer's single parquet file, or a directory
            # leaf an older compactor wrote
            m = _LEAF_RE.match(st.getPath().getName())
            if m:
                leaves.append(
                    (int(m.group(1)), st.getPath().toString(),
                     fs.getContentSummary(st.getPath()).getLength())
                )
        leaves.sort()
        stats.leaves_before += len(leaves)
        for group in _bins(leaves, [b for _, _, b in leaves], target_bytes):
            stats.leaves_after += 1
            if len(group) == 1:  # already compact
                continue
            srcs = [p for _, p, _ in group]
            _write_one_file(spark.read.parquet(*srcs).sort("offset"), _staged(srcs[0]))
            renames.append((_staged(srcs[0]), srcs[0]))
            deletes.extend(srcs[1:])
            stats.bins_written += 1
            stats.bytes_rewritten += sum(b for _, _, b in group)
    if renames:
        _swap(fs, jvm, wal_path, renames, deletes)
    return stats
