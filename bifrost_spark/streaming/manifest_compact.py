"""Compaction for the ``_spark_metadata`` manifest file sink.

``start_archive``'s default sink is Spark's transactional file sink: every
micro-batch appends part files AND a metadata log entry under
``_spark_metadata/``; batch readers that see that directory trust the LOG,
not the directory listing.  So compacting these archives is a two-phase
problem the offset-named layout doesn't have: rewriting the small part
files is not enough — the manifest must switch to the new file set, or
readers keep scanning the old small files (or worse, miss data).

Log format (Spark's ``FileStreamSinkLog``, stable since 2.0): one file per
batch named ``<batchId>`` (or ``<batchId>.compact`` when Spark folds
history), first line a version marker (``v1``), then one JSON
``SinkFileStatus`` per line: ``{path, size, isDir, modificationTime,
blockReplication, blockSize, action}`` with action ``add``/``delete``;
readers replay the latest ``.compact`` plus later deltas.

This job (run in the maintenance window, query STOPPED — same operational
contract as OPTIMIZE on a table format) runs on compact.py's core:

  1. replays the log to the live file set;
  2. bins small files per partition directory and rewrites each bin as
     ONE file (``compacted-g<generation>-<stem-of-first-source>.parquet``,
     deterministic → idempotent re-runs).  The generation number is 1 +
     the highest generation among the bin's sources, so a RE-compaction
     (compact → stream appends → compact) always writes a FRESH name that
     no log lists until the commit: it is written in place, and an
     unlisted ``compacted-*`` file is garbage the next run sweeps;
  3. rewrites the log HISTORY: each valid log file is written under its
     staged name, the latest with the complete new live set, every
     earlier one as an empty batch (version line only).  Spark 4's replay
     unions the adds of all valid batches (the v1 ``delete`` action is no
     longer honored), so content — not actions — must carry the change.
     The batch-id structure (which the reader derives ARITHMETICALLY from
     the compact interval, not by listing) is untouched, so a restarted
     query appends ``<latestBatch+1>`` exactly as before;
  4. commits through compact.py's write-ahead swap, its WAL at
     ``_spark_metadata/.manifest-compaction-wal``: the log renames, latest
     first, then the deletes of the superseded part files.  Its
     crash-state table holds row for row: a crash after the latest log's
     rename shows some rows twice (the old adds of the earlier logs) and
     never loses one, and the next run converges.

Scale: the log replay and binning are driver-side over the file KEY SET
(names+sizes, no data); each bin rewrite is a distributed read→write; at
cloud scale the swap is one small-object PUT+rename per log file.
"""

from __future__ import annotations

import json
import posixpath
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from bifrost_spark.streaming import compact
from bifrost_spark.streaming._sink import hadoop_fs

_VERSION = "v1"
_COMPACT_SUFFIX = ".compact"
_LOG_RE = re.compile(r"^\d+(\.compact)?$")
_WAL_NAME = ".manifest-compaction-wal"


@dataclass
class ManifestCompactStats:
    files_before: int = 0
    files_after: int = 0
    bins_written: int = 0
    bytes_rewritten: int = 0
    garbage_removed: int = 0


def _parse_generation(first_segment: str) -> tuple[int, str]:
    """(generation, stem) from a basename's first dot-segment.

    ``compacted-g<N>-<stem>`` → (N, stem); legacy ``compacted-<stem>``
    (pre-generation output) → (1, stem); anything else → (0, segment).
    """
    if not first_segment.startswith("compacted-"):
        return 0, first_segment
    rest = first_segment.removeprefix("compacted-")
    if rest.startswith("g"):
        gen_str, _, stem = rest[1:].partition("-")
        if gen_str.isdigit() and stem:
            return int(gen_str), stem
    return 1, rest


def _log_batches(fs, jvm, meta_dir: str) -> list[tuple[int, bool, str]]:
    """[(batch_id, is_compact, name)] ascending, ignoring temp/CRC files."""
    out = []
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(meta_dir)) or []:
        name = st.getPath().getName()
        m = _LOG_RE.match(name)
        if m:
            out.append((int(name.removesuffix(_COMPACT_SUFFIX)), bool(m.group(1)), name))
    out.sort()
    return out


def _replay_log(fs, jvm, meta_dir: str) -> tuple[dict[str, dict], str, list[str]]:
    """(live file set {path -> SinkFileStatus}, latest log name, ALL valid
    log names).  Valid = latest compact + later deltas — exactly the files
    Spark 4's reader unions (it ignores the v1 ``delete`` action, so the
    live set is simply the union of adds)."""
    batches = _log_batches(fs, jvm, meta_dir)
    if not batches:
        raise FileNotFoundError(f"no sink log under {meta_dir}")
    compacts = [b for b in batches if b[1]]
    start_from = compacts[-1][0] if compacts else batches[0][0]
    adds: dict[str, dict] = {}
    valid_names: list[str] = []
    for bid, is_compact, name in batches:
        if bid < start_from or (bid == start_from and not is_compact and compacts):
            continue
        valid_names.append(name)
        lines = compact._read_lines(fs, jvm, f"{meta_dir}/{name}")
        if not lines or lines[0] != _VERSION:
            raise ValueError(f"unexpected sink log version in {name}: {lines[:1]}")
        for line in lines[1:]:
            if not line.strip():
                continue
            st = json.loads(line)
            if st.get("action") != "delete":
                adds[st["path"]] = st
    return adds, batches[-1][2], valid_names


def compact_manifest_sink(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> ManifestCompactStats:
    """Compact a ``_spark_metadata`` parquet sink directory in place.

    Run with the writing query stopped.  Readers never lose a row: the
    latest log's rename is the commit point.
    """
    fs, jvm = hadoop_fs(spark, path), spark._jvm
    meta_dir = path + "/_spark_metadata"
    wal_path = f"{meta_dir}/{_WAL_NAME}"
    compact._replay_wal(fs, jvm, wal_path)
    compact._drop_staged(fs, jvm.org.apache.hadoop.fs.Path(meta_dir), _LOG_RE)
    live, latest_name, valid_names = _replay_log(fs, jvm, meta_dir)
    stats = ManifestCompactStats(files_before=len(live))

    # sweep unlisted garbage from prior crashed runs (compacted-* only —
    # never touch files a concurrent log we failed to read might list)
    listed = {posixpath.basename(p) for p in live}
    root = jvm.org.apache.hadoop.fs.Path(path)
    for st in fs.listStatus(root) or []:
        _sweep_dir(fs, st, listed, stats)

    # group by partition directory, bin the small files
    by_dir: dict[str, list[dict]] = {}
    for p, st in live.items():
        by_dir.setdefault(posixpath.dirname(p), []).append(st)

    new_live: dict[str, dict] = dict(live)
    to_delete: list[str] = []
    for d, files in sorted(by_dir.items()):
        files.sort(key=lambda s: posixpath.basename(s["path"]))
        for group in compact._bins(files, [s["size"] for s in files], target_bytes):
            if len(group) < 2:
                continue
            srcs = [s["path"] for s in group]
            gens = [
                _parse_generation(posixpath.basename(p).split(".")[0])
                for p in srcs
            ]
            stem = gens[0][1]
            out_gen = 1 + max(g for g, _ in gens)
            # a fresh name every generation: never the same as a live
            # listed file (this run's outputs included), so we never
            # write over live data before the WAL commit
            while (
                f"{d}/compacted-g{out_gen}-{stem}.parquet" in new_live
                or f"{d}/compacted-g{out_gen}-{stem}.parquet" in live
            ):
                out_gen += 1
            out_path = f"{d}/compacted-g{out_gen}-{stem}.parquet"
            assert out_path not in live and out_path not in srcs
            fstat = compact._write_one_file(spark.read.parquet(*srcs), out_path)
            for s in group:
                new_live.pop(s["path"], None)
            new_live[out_path] = {
                "path": out_path,
                "size": int(fstat.getLen()),
                "isDir": False,
                "modificationTime": int(fstat.getModificationTime()),
                "blockReplication": 1,
                "blockSize": int(fstat.getBlockSize()),
                "action": "add",
            }
            to_delete.extend(srcs)
            stats.bins_written += 1
            stats.bytes_rewritten += sum(s["size"] for s in group)

    if stats.bins_written:
        # Stage the rewritten history: latest valid log := full new live
        # set; every earlier valid log := empty batch.  Then the swap.
        renames: list[tuple[str, str]] = []
        for name in valid_names:
            final = f"{meta_dir}/{name}"
            if name == latest_name:
                lines = [_VERSION] + [
                    json.dumps(new_live[p]) for p in sorted(new_live)
                ]
            else:
                lines = [_VERSION]
            compact._write_lines(fs, jvm, compact._staged(final), lines)
            renames.append((compact._staged(final), final))
        # latest first: at no point does the view lose rows (a crash
        # mid-swap shows duplicates, resolved by WAL replay — and the
        # contract quiesces readers during the window anyway)
        renames.sort(key=lambda r: r[1] != f"{meta_dir}/{latest_name}")
        compact._swap(fs, jvm, wal_path, renames, sorted(to_delete))

    stats.files_after = len(new_live)
    return stats


def _sweep_dir(fs, st, listed: set[str], stats: ManifestCompactStats) -> None:
    name = st.getPath().getName()
    if st.isDirectory():
        # our own crashed bin-rewrite staging dirs (".compacted-*.tmp")
        # are garbage by construction — a completed rewrite always
        # deletes its tmp dir before the WAL commit
        if name.startswith(".compacted-") and name.endswith(".tmp"):
            fs.delete(st.getPath(), True)
            stats.garbage_removed += 1
            return
        if name.startswith("_") or name.startswith("."):
            return
        for sub in fs.listStatus(st.getPath()) or []:
            _sweep_dir(fs, sub, listed, stats)
    elif name.startswith("compacted-") and name not in listed:
        fs.delete(st.getPath(), False)
        stats.garbage_removed += 1
