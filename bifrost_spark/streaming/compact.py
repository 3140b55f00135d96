"""Incremental archive compaction (OPTIMIZE-style maintenance job).

The offset-named archive (archive.py:start_offset_named_archive — the
engine's rendering of the reference's one-object-per-rotation S3 layout,
s3.clj:15-20) accumulates one small leaf per (topic, partition, rotation).
At a 60 s rotation that is 1 440 objects/partition/day — death by listing
for every downstream scan.  This job rewrites runs of consecutive small
leaves into fewer large ones while preserving the layout's two invariants:

  * **leaf name == first offset it contains** (`%010d.parquet`) — so the
    re-upload idempotence story (same first offset → same key) survives
    compaction unchanged;
  * **offset order within a leaf** — rows are sorted by offset before the
    rewrite, so a leaf is still a contiguous, ordered offset run.

Crash safety — a write-ahead manifest per bin, because the bin's FINAL name
collides with its first source leaf's name (both are the bin's first
offset), so existence checks alone cannot distinguish crash states:

  1. write the complete bin to ``<first>.parquet.compact-tmp``
  2. write ``<first>.parquet.compact-manifest`` naming the source leaves
  3. delete the source leaves
  4. rename tmp → ``<first>.parquet``
  5. delete the manifest

``_recover_orphans`` replays from any crash point: manifest + tmp present →
steps 3-4 were in flight; re-delete the listed sources (idempotent) and
finish the rename.  Manifest without tmp → the rename committed; just drop
the manifest.  Tmp without manifest → nothing was deleted yet; the sources
are intact and the tmp is garbage.  Every row is always durable in at least
one complete object.

Scale shape: the per-leaf listing loop runs on the driver but only over the
KEY SET (topics × partitions × files — the same bound the reference's
uploader pool iterates, s3.clj:120); every bin rewrite is a distributed
read→sort→write job.  On object stores rename is copy+delete (not atomic);
the recovery pass covers that window too, because the tmp object is only
removed once the final object exists.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from bifrost_spark.streaming._sink import hadoop_fs

_LEAF_RE = re.compile(r"^(\d{10})\.parquet$")
_TMP_SUFFIX = ".compact-tmp"
_MANIFEST_SUFFIX = ".compact-manifest"


@dataclass
class CompactStats:
    partitions_seen: int = 0
    leaves_before: int = 0
    leaves_after: int = 0
    bins_written: int = 0
    bytes_rewritten: int = 0


def _write_manifest(fs, jvm, mpath, names: list[str]) -> None:
    out = fs.create(mpath, True)
    out.write(bytearray("\n".join(names).encode("utf-8")))
    out.close()


def _read_manifest(fs, jvm, mpath) -> list[str]:
    stream = fs.open(mpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return [line for line in text.splitlines() if line]


def _recover_orphans(fs, jvm, part_dir) -> None:
    """Replay interrupted compactions from their write-ahead manifests (see
    module docstring for the exact crash-state table)."""
    statuses = list(fs.listStatus(part_dir))
    names = {st.getPath().getName() for st in statuses}
    for name in sorted(names):
        if not name.endswith(_MANIFEST_SUFFIX):
            continue
        base = name[: -len(_MANIFEST_SUFFIX)]  # e.g. 0000000042.parquet
        mpath = jvm.org.apache.hadoop.fs.Path(part_dir, name)
        tmp = jvm.org.apache.hadoop.fs.Path(part_dir, base + _TMP_SUFFIX)
        final = jvm.org.apache.hadoop.fs.Path(part_dir, base)
        if fs.exists(tmp):  # deletes/rename in flight → finish them
            for src in _read_manifest(fs, jvm, mpath):
                fs.delete(jvm.org.apache.hadoop.fs.Path(part_dir, src), True)
            fs.rename(tmp, final)
        fs.delete(mpath, False)
    for name in sorted(names):
        if name.endswith(_TMP_SUFFIX) and not fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                part_dir, name[: -len(_TMP_SUFFIX)] + _MANIFEST_SUFFIX
            )
        ):
            # no manifest was written → sources intact, tmp is garbage
            fs.delete(jvm.org.apache.hadoop.fs.Path(part_dir, name), True)


def compact_archive(
    spark: SparkSession,
    archive_root: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> CompactStats:
    """Compact every ``.../partition=<p>`` directory under ``archive_root``.

    Consecutive leaves (by offset) are greedily binned until a bin would
    exceed ``target_bytes``; single-leaf bins are left untouched.  Returns
    counts for observability (the listener/metrics analog for maintenance).
    """
    fs, jvm = hadoop_fs(spark, archive_root), spark._jvm
    stats = CompactStats()
    glob_pat = jvm.org.apache.hadoop.fs.Path(archive_root + "/*/*/partition=*")
    for part_status in fs.globStatus(glob_pat) or []:
        part_dir = part_status.getPath()
        if not part_status.isDirectory():
            continue
        stats.partitions_seen += 1
        _recover_orphans(fs, jvm, part_dir)
        leaves = []  # (first_offset, name, bytes)
        for st in fs.listStatus(part_dir):
            # a leaf is the writer's single parquet file or a directory
            # this job wrote for an earlier bin
            m = _LEAF_RE.match(st.getPath().getName())
            if m:
                leaves.append(
                    (int(m.group(1)), st.getPath().getName(),
                     fs.getContentSummary(st.getPath()).getLength())
                )
        leaves.sort()
        stats.leaves_before += len(leaves)

        bins: list[list[tuple[int, str, int]]] = []
        cur: list[tuple[int, str, int]] = []
        cur_bytes = 0
        for leaf in leaves:
            if cur and cur_bytes + leaf[2] > target_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(leaf)
            cur_bytes += leaf[2]
        if cur:
            bins.append(cur)

        for group in bins:
            if len(group) == 1:  # already compact
                stats.leaves_after += 1
                continue
            first = group[0][0]
            part_str = str(part_dir)
            src_names = [name for _, name, _ in group]
            srcs = [f"{part_str}/{name}" for name in src_names]
            base = f"{first:010d}.parquet"
            final = jvm.org.apache.hadoop.fs.Path(part_dir, base)
            tmp = jvm.org.apache.hadoop.fs.Path(part_dir, base + _TMP_SUFFIX)
            mpath = jvm.org.apache.hadoop.fs.Path(part_dir, base + _MANIFEST_SUFFIX)
            (
                spark.read.parquet(*srcs)
                .sort("offset")  # contiguous ordered run, single output file
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(str(tmp))
            )
            _write_manifest(fs, jvm, mpath, src_names)
            # commit point: tmp + manifest are durable
            for s in srcs:
                fs.delete(jvm.org.apache.hadoop.fs.Path(s), True)
            fs.rename(tmp, final)
            fs.delete(mpath, False)
            stats.bins_written += 1
            stats.leaves_after += 1
            stats.bytes_rewritten += sum(b for _, _, b in group)
    return stats
