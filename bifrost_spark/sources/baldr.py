"""Baldr-framed gzip archives: byte-compatible reader/writer for the
reference's on-disk record format.

The reference archives each (topic, partition, rotation) as a gzip stream
of baldr frames (kafka.clj:9,71-82 — `baldr-writer` over a
GZIPOutputStream; dependency `[baldr "0.1.1"]`, the public uswitch/baldr
length-prefixed record format: each record is an 8-byte BIG-ENDIAN length
header followed by exactly that many payload bytes).  This module gives
the engine the same wire format, so a consumer of the reference's
`.baldr.gz` objects can read this engine's output unchanged — the "exact
baldr output" completion of A7 (SURVEY.md §2, §7.4).

Distribution shape:
  * WRITER — the message stream is hash-partitioned on (topic,
    partition) into defaultParallelism tasks (an explicit count, so
    adaptive execution cannot fold a small batch onto one task); each task
    splits its rows into per-key runs sorted by offset, checks and frames
    every run, then streams each through gzip into a hidden temp name that
    is renamed to `<root>/<group>/<topic>/partition=<p>/
    <first-offset %010d>.baldr.gz` (the reference's object key, s3.clj:
    15-20), so an object appears whole or not at all.  Payload bytes never
    pass through the driver; each file is written by exactly one task.
    Paths are plain `open()` — file:// and mounted stores here; an fsspec
    handle slots in for object stores.
  * READER — Spark's `binaryFile` source lists and reads whole files in
    parallel (one row per file), and an Arrow-batched `mapInPandas`
    gunzips + unframes each file, reconstructing (topic, partition,
    offset, value) from the frames plus the path-encoded key — the exact
    inverse of the writer, offset = first-offset-in-name + frame index.
"""

from __future__ import annotations

import gzip
import io
import os
import re
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LEN = struct.Struct(">q")  # baldr: 8-byte big-endian record length
_PATH_RE = re.compile(r"/([^/]+)/partition=(\d+)/(\d{10})\.baldr\.gz$")
_MANIFEST_SCHEMA = (
    "topic string, partition int, first_offset long, n_records long, path string"
)


def frame_records(values: list[bytes]) -> bytes:
    """Frame a record run into baldr wire bytes (length-prefixed)."""
    buf = io.BytesIO()
    for v in values:
        buf.write(_LEN.pack(len(v)))
        buf.write(v)
    return buf.getvalue()


def unframe_records(data: bytes) -> list[bytes]:
    """Inverse of ``frame_records``; raises on a truncated stream."""
    out, pos, n = [], 0, len(data)
    while pos < n:
        if pos + 8 > n:
            raise ValueError("truncated baldr frame header")
        (length,) = _LEN.unpack_from(data, pos)
        pos += 8
        if length < 0 or pos + length > n:
            raise ValueError("truncated baldr frame payload")
        out.append(data[pos : pos + length])
        pos += length
    return out


def write_baldr_archive(
    df: DataFrame, root: str, group_id: str = "bifrost-group"
) -> DataFrame:
    """Write a message-shaped DataFrame (topic, partition, offset, value)
    as offset-named ``.baldr.gz`` objects; returns the written manifest
    (topic, partition, first_offset, n_records, path) as a DataFrame.

    One shuffle (repartition on the key into defaultParallelism tasks) +
    in-task sort; every file is produced by a single task streaming gzip
    — the same per-(topic, partition) single-writer discipline as the
    reference's consumer FSM.  A null payload or an offset gap raises
    ``ValueError`` before the task opens any file.
    """
    import pandas as pd

    def write_partition(batches):
        chunks = [b for b in batches if not b.empty]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        # check and frame every run before any file is opened, so a bad
        # run leaves no object behind
        runs = []
        for (topic, part), grp in rows.groupby(["topic", "partition"], sort=True):
            grp = grp.sort_values("offset")
            first = int(grp["offset"].iloc[0])
            last = int(grp["offset"].iloc[-1])
            # The wire format encodes ONLY the first offset (in the file
            # name); read-back reconstructs offset = first + frame index.
            # That is correct only for a gap-free unique run — enforce it
            # here rather than silently mis-assigning offsets on read
            # (gaps arise from compacted/transactional Kafka topics).
            if last - first + 1 != len(grp) or not grp["offset"].is_unique:
                raise ValueError(
                    f"non-contiguous offset run for {topic}/partition={part}: "
                    f"[{first}..{last}] holds {len(grp)} records — baldr "
                    "framing cannot represent offset gaps; compact/renumber "
                    "upstream or archive as parquet (which stores offsets)"
                )
            nulls = grp["offset"][grp["value"].isna()]
            if len(nulls):
                raise ValueError(
                    f"null payload at {topic}/partition={part} offset "
                    f"{int(nulls.iloc[0])} — baldr framing has no null record "
                    "(e.g. a Kafka tombstone); filter tombstones upstream or "
                    "archive as parquet (which stores nulls)"
                )
            runs.append((topic, int(part), first, len(grp), frame_records([bytes(v) for v in grp["value"]])))
        for topic, part, first, n, framed in runs:
            d = os.path.join(root, group_id, str(topic), f"partition={part}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{first:010d}.baldr.gz")
            # write a hidden temp name, then rename: each object appears
            # whole (the reference uploads a finished temp file,
            # kafka.clj:71-72).  The gzip header names the object, not the
            # temp file, and mtime=0 → byte-stable output across runs
            # (reproducible objects make re-upload idempotence checkable
            # by digest)
            tmp = os.path.join(d, f".{first:010d}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "wb") as fh:
                with gzip.GzipFile(path, "wb", fileobj=fh, mtime=0) as gz:
                    gz.write(framed)
            os.replace(tmp, path)
            yield pd.DataFrame(
                {
                    "topic": [topic],
                    "partition": [part],
                    "first_offset": [first],
                    "n_records": [n],
                    "path": [path],
                }
            )

    msgs = df.select("topic", "partition", "offset", "value")
    # an explicit task count: an unsized repartition of a small batch is
    # coalesced by adaptive execution onto one task
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    # run the side-effecting write NOW, exactly once, in one job: the
    # manifest (one row per key) is collected and handed back as a local
    # frame, so no later action on it can re-execute the write
    rows = (
        msgs.repartition(n_tasks, "topic", "partition")
        .mapInPandas(write_partition, schema=_MANIFEST_SCHEMA)
        .collect()
    )
    return df.sparkSession.createDataFrame(rows, _MANIFEST_SCHEMA)


def read_baldr_archive(spark: SparkSession, root: str, group_id: str = "bifrost-group") -> DataFrame:
    """Read ``.baldr.gz`` objects back into (topic, partition, offset,
    value) — offsets rebuilt from the file name + frame index.

    Assumes each file holds a CONTIGUOUS offset run starting at the
    file-name offset (the format stores no per-record offsets); the writer
    enforces this at write time."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(
        f"{root}/{group_id}/*/partition=*/*.baldr.gz"
    )

    def unframe(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                m = _PATH_RE.search(path)
                if not m:
                    raise ValueError(f"unrecognized baldr path {path!r}")
                topic, part, first = m.group(1), int(m.group(2)), int(m.group(3))
                values = unframe_records(gzip.decompress(bytes(content)))
                yield pd.DataFrame(
                    {
                        "topic": topic,
                        "partition": part,
                        "offset": [first + i for i in range(len(values))],
                        "value": values,
                    }
                )

    return files.select("path", "content").mapInPandas(
        unframe, schema="topic string, partition int, offset long, value binary"
    )


def _discover_baldr_files(root: str) -> list[str]:
    import glob as _glob

    return sorted(_glob.glob(f"{root}/*/*/partition=*/*.baldr.gz"))


def register_baldr_source(spark: SparkSession) -> None:
    """Register the Spark 4 Python DataSource wrapping the baldr layout:
    ``spark.read.format("baldr").option("path", root)`` — one input
    partition per object, so scan parallelism equals file count exactly
    like the parquet reader.  Like ``read_baldr_archive``, offsets are
    reconstructed as file-name offset + frame index, valid because the
    writer enforces gap-free runs.

    Defined inside the function so importing this module never requires
    the DataSource API; the functional reader (``read_baldr_archive``)
    remains the dependency-free path."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _BaldrFilePartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class _BaldrReader(DataSourceReader):
        def __init__(self, options):
            self._root = options.get("path")
            if not self._root:
                raise ValueError("baldr source requires .option('path', <root>)")

        def partitions(self):
            return [_BaldrFilePartition(p) for p in _discover_baldr_files(self._root)]

        def read(self, partition):
            m = _PATH_RE.search(partition.path)
            if not m:
                raise ValueError(f"unrecognized baldr path {partition.path!r}")
            topic, part, first = m.group(1), int(m.group(2)), int(m.group(3))
            with open(partition.path, "rb") as fh:
                values = unframe_records(gzip.decompress(fh.read()))
            for i, v in enumerate(values):
                yield (topic, part, first + i, v)

    class _BaldrSource(DataSource):
        @classmethod
        def name(cls):
            return "baldr"

        def schema(self):
            return "topic string, partition int, offset long, value binary"

        def reader(self, schema):
            return _BaldrReader(self.options)

    spark.dataSource.register(_BaldrSource)
