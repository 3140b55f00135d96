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
  * WRITER — the engine's one offset-named object writer
    (`streaming/archive.py:write_offset_named`, shared with the parquet
    leaf writer) with the baldr encoder: each task checks every per-key
    run (gap-free offsets, no null payload), frames it and gzips it
    (mtime 0) before it opens any file, then writes each object to a
    hidden temp name renamed to `<root>/<group>/<topic>/partition=<p>/
    <first-offset %010d>.baldr.gz` (the reference's object key, s3.clj:
    15-20), so an object appears whole or not at all.  Payload bytes never
    pass through the driver; each file is written by exactly one task.
    Paths are plain `open()`: local or mounted paths; a root with a URI
    scheme is refused.
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

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession

from bifrost_spark.streaming import archive

_LEN = struct.Struct(">q")  # baldr: 8-byte big-endian record length
_PATH_RE = re.compile(r"/([^/]+)/partition=(\d+)/(\d{10})\.baldr\.gz$")


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


def _baldr_object(run: pa.Table, key: str) -> bytes:
    """One offset-sorted run as a gzip stream of baldr frames.  The gzip
    header names the object and its mtime is 0, so the bytes are stable
    across runs (re-upload idempotence is checkable by digest)."""
    where = os.path.dirname(key)
    offsets, values, n = run["offset"], run["value"], run.num_rows
    first, last = offsets[0].as_py(), offsets[-1].as_py()
    # The wire format encodes ONLY the first offset (in the file name);
    # read-back reconstructs offset = first + frame index.  That is
    # correct only for a gap-free unique run — enforce it here rather
    # than silently mis-assigning offsets on read (gaps arise from
    # compacted/transactional Kafka topics).
    if last - first + 1 != n or pc.count_distinct(offsets).as_py() != n:
        raise ValueError(
            f"non-contiguous offset run for {where}: [{first}..{last}] holds "
            f"{n} records — baldr framing cannot represent offset gaps; "
            "compact/renumber upstream or archive as parquet (which stores offsets)"
        )
    if values.null_count:
        raise ValueError(
            f"null payload at {where} offset "
            f"{offsets.filter(values.is_null())[0].as_py()} — baldr framing has "
            "no null record (e.g. a Kafka tombstone); filter tombstones "
            "upstream or archive as parquet (which stores nulls)"
        )
    buf = io.BytesIO()
    with gzip.GzipFile(key, "wb", fileobj=buf, mtime=0) as gz:
        gz.write(frame_records(values.to_pylist()))
    return buf.getvalue()


def write_baldr_archive(
    df: DataFrame, root: str, group_id: str = "bifrost-group"
) -> list[Row]:
    """Write a message-shaped DataFrame (topic, partition, offset, value;
    other columns are not written) as offset-named ``.baldr.gz`` objects;
    returns the collected manifest
    rows (topic, partition, first_offset, n_records, path), one per
    object, as ``archive.write_offset_named`` does.

    Runs now, in one Spark action: every file is produced by a single
    task — the same per-(topic, partition) single-writer discipline as
    the reference's consumer FSM.  A null payload or an offset gap raises
    ``ValueError`` before the task opens any file.
    """
    return archive.write_offset_named(df, root, group_id, "baldr.gz", _baldr_object)


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
                first = int(m.group(3))
                values = unframe_records(gzip.decompress(bytes(content)))
                yield pd.DataFrame(
                    {
                        "topic": m.group(1),
                        "partition": int(m.group(2)),
                        "offset": [first + i for i in range(len(values))],
                        "value": values,
                    }
                )

    return files.select("path", "content").mapInPandas(
        unframe, schema="topic string, partition int, offset long, value binary"
    )
