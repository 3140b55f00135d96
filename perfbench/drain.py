"""The archive-drain workload: a staged backlog drained through each of the
engine's three archive writers, with fresh output and checkpoint
directories per drain, and every drain's output checked.

Each drain is the reference's restart-from-committed-offset catch-up case:
``max_files_per_trigger=1`` turns each staged file into one micro-batch
(one rotation) and ``rotation_interval_secs=0`` runs the batches back to
back instead of aligning them to the clock.
"""

from __future__ import annotations

import glob
import gzip
import os
import re
import shutil
import struct
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from bifrost_spark.streaming import archive

WRITERS = {
    "parquet": archive.start_archive,
    "offset": archive.start_offset_named_archive,
    "baldr": archive.start_baldr_archive,
}
GROUP = "bifrost-group"  # ArchiveConfig's default consumer group
_LEN = struct.Struct(">q")
_LEAF = re.compile(r"/([^/]+)/partition=(\d+)/(\d{10})\.(parquet|baldr\.gz)$")


@dataclass
class Drain:
    writer: str
    wall_s: float  # start_* until processAllAvailable returns
    build_s: float  # inside start_*
    batches: list = field(default_factory=list)  # progress dicts with rows
    problems: list = field(default_factory=list)
    files: int = 0
    bytes_out: int = 0
    run_id: str = ""
    build_py4j: int = 0  # py4j commands sent in start_* (traced drains)
    exec_py4j: int = 0  # ... while the batches ran, by the sink callbacks


def run_drain(spark, writer: str, backlog, work: str, tracer, op: str) -> Drain:
    out, ckpt = os.path.join(work, f"out-{writer}"), os.path.join(work, f"ckpt-{writer}")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    cfg = archive.ArchiveConfig(
        output_path=out,
        checkpoint_path=ckpt,
        input_path=backlog.path,
        max_files_per_trigger=1,
        rotation_interval_secs=0,
    )
    with tracer.span(f"streaming.archive.{writer}", op):
        t0 = time.perf_counter()
        with tracer.span("build") as build_span:
            query = WRITERS[writer](spark, cfg)
        t1 = time.perf_counter()
        try:
            with tracer.span("exec") as exec_span:
                # foreachBatch callbacks run on other threads: parent their
                # spans here
                tracer.fallback_parent = exec_span["id"] if exec_span else None
                query.processAllAvailable()
            t2 = time.perf_counter()
            progress = [_progress(p) for p in query.recentProgress if p["numInputRows"] > 0]
            run_id = str(query.runId)
        finally:
            query.stop()
            tracer.fallback_parent = None
    d = Drain(writer, t2 - t0, t1 - t0, progress, run_id=run_id)
    if build_span:
        d.build_py4j, d.exec_py4j = build_span["py4j"], exec_span["py4j"]
    return d


def _progress(p) -> dict:
    return {
        "batch": p["batchId"],
        "rows": p["numInputRows"],
        "timestamp": p["timestamp"],
        "durationMs": dict(p["durationMs"]),
    }


def check_drain(d: Drain, backlog, work: str) -> None:
    """Append to ``d.problems`` every way the output differs from the
    backlog, and record the output's file count and size.  Reads the
    files directly (pyarrow, gzip), independent of the writers' code."""
    out = os.path.join(work, f"out-{d.writer}")
    if len(d.batches) != backlog.n_files:
        d.problems.append(f"{d.writer}: {len(d.batches)} batches for {backlog.n_files} files")
    if d.writer == "parquet":
        files = glob.glob(f"{out}/topic=*/partition=*/*.parquet")
        got: dict = {}
        for f in files:
            m = re.search(r"topic=([^/]+)/partition=(\d+)/", f)
            key = (m.group(1), int(m.group(2)))
            got.setdefault(key, []).extend(pq.read_table(f, columns=["offset"]).column(0).to_pylist())
        _check_offsets(d, backlog, got)
    else:
        suffix = "parquet" if d.writer == "offset" else "baldr.gz"
        files = glob.glob(f"{out}/{GROUP}/*/partition=*/*.{suffix}")
        leaves: dict = {}
        for f in files:
            m = _LEAF.search(f)
            if not m:
                d.problems.append(f"{d.writer}: unexpected file {f}")
                continue
            key, first = (m.group(1), int(m.group(2))), int(m.group(3))
            if d.writer == "offset":
                offsets = pq.read_table(f, columns=["offset"]).column(0).to_pylist()
                if sorted(offsets) != list(range(first, first + len(offsets))):
                    d.problems.append(f"offset: {f} does not hold one run starting at its name")
                leaves.setdefault(key, []).append((first, len(offsets)))
            else:
                values = _unframe(gzip.decompress(open(f, "rb").read()))
                base, expected = backlog.runs.get(key, (0, []))
                if values != expected[first - base : first - base + len(values)]:
                    d.problems.append(f"baldr: {f} bytes differ from the input")
                leaves.setdefault(key, []).append((first, len(values)))
        got = {}
        for key, runs in leaves.items():
            runs.sort()
            for (a, n), (b, _) in zip(runs, runs[1:]):
                if b != a + n:
                    d.problems.append(f"{d.writer}: leaves of {key} do not chain at {a}+{n} -> {b}")
            got[key] = [o for a, n in runs for o in range(a, a + n)]
        _check_offsets(d, backlog, got)
        if glob.glob(f"{out}/.staging-epoch-*"):
            d.problems.append(f"{d.writer}: a .staging-epoch-* directory survived")
    d.files = len(files)
    d.bytes_out = sum(os.path.getsize(f) for f in files)


def _check_offsets(d: Drain, backlog, got: dict) -> None:
    """Every (topic, partition, offset) of the backlog exactly once."""
    if set(got) != set(backlog.runs):
        d.problems.append(f"{d.writer}: keys differ ({len(got)} written, {len(backlog.runs)} staged)")
    for key, (base, values) in backlog.runs.items():
        if sorted(got.get(key, [])) != list(range(base, base + len(values))):
            d.problems.append(f"{d.writer}: offsets of {key} are not exactly-once")


def _unframe(data: bytes) -> list[bytes]:
    out, pos = [], 0
    while pos < len(data):
        (n,) = _LEN.unpack_from(data, pos)
        out.append(data[pos + 8 : pos + 8 + n])
        pos += 8 + n
    return out


def check_baldr_readback(spark, backlog, work: str) -> list[str]:
    """The baldr archive read back through the engine's own reader equals
    the input bytes."""
    from bifrost_spark.sources.baldr import read_baldr_archive

    rows = read_baldr_archive(spark, os.path.join(work, "out-baldr"), GROUP).collect()
    got = {(r["topic"], r["partition"], r["offset"]): bytes(r["value"]) for r in rows}
    expected = {
        (t, p, base + i): v for (t, p), (base, values) in backlog.runs.items() for i, v in enumerate(values)
    }
    if len(rows) != len(expected) or got != expected:
        return [f"baldr read-back: {len(rows)} rows, {len(expected)} expected, bytes differ"]
    return []


def clean(work: str, writer: str) -> None:
    shutil.rmtree(os.path.join(work, f"out-{writer}"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, f"ckpt-{writer}"), ignore_errors=True)
