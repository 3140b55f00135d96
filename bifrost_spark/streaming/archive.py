"""The bifrost archival pipeline, Spark-first (SURVEY.md §2 Part A, §7.1
"archive" layer).

Reference behavior being re-expressed (uswitch/bifrost):
  * consume all topics minus blacklist / intersect whitelist
    (kafka.clj:182-186) → ``subscribePattern`` + a relational filter
  * frame raw bytes into files, rotate on a fixed interval
    (kafka.clj:103-120) → one micro-batch per ``trigger(processingTime=…)``
  * upload under ``<group>/<topic>/partition=<p>/<%010d first-offset>``
    (s3.clj:15-20) → ``partitionBy("topic","partition")`` parquet layout;
    offset-named objects via ``write_offset_named`` below
  * commit offset only after a successful upload (s3.clj:40-80 FSM) →
    Structured Streaming checkpoint: offsets WAL before the batch, commit
    log after sink success — same at-least-once contract, strengthened to
    exactly-once by the file sink's manifest

At scale: the Kafka source maps 1 Kafka partition → 1 task (A5's
per-partition parallelism), ``maxOffsetsPerTrigger`` is the backpressure
bound (A18), and the sink's partitioned layout is exactly the reference's
Hive-style object keying (A11), so downstream engines partition-prune.

Storage: the manifest file sink (``start_archive``) writes any Hadoop
path, object stores included (``cloud.py`` configures the connector).
The two offset-named writers (``start_offset_named_archive``,
``start_baldr_archive``) write each object from inside its Spark task
with plain file calls, so their root is a local or mounted path; they
refuse a root with a URI scheme (``s3a://``, ``abfss://``, ``file://``)
before the stream starts.
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The Kafka-source column contract (subset we archive).  When reading from a
# real Kafka cluster these come from format("kafka") verbatim.
MESSAGE_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("value", BinaryType()),
        StructField("ts", TimestampType()),
    ]
)
# One row per object an offset-named writer wrote
MANIFEST_SCHEMA = "topic string, partition int, first_offset long, n_records long, path string"


@dataclass
class ArchiveConfig:
    """Engine config — mirrors etc/config.example.edn of the reference.

    ``source`` selects kafka (production) or file (tests / replay); the file
    source drives the identical downstream plan, which is how the streaming
    tests exercise rotation/commit semantics without brokers.
    """

    output_path: str
    checkpoint_path: str
    source: str = "file"  # "kafka" | "file"
    # kafka source options (ignored for file source)
    bootstrap_servers: str = "localhost:9092"
    subscribe_pattern: str = ".*"
    starting_offsets: str = "earliest"  # = auto.offset.reset "smallest"
    max_offsets_per_trigger: int | None = 1_000_000  # backpressure (A18)
    # file source options
    input_path: str | None = None
    max_files_per_trigger: int | None = None
    # rotation (A10): one micro-batch per interval
    rotation_interval_secs: int = 60
    # topic filter (A2)
    topic_whitelist: tuple[str, ...] | None = None
    topic_blacklist: tuple[str, ...] = ()
    # consumer-group analog, used in object keys (A11)
    group_id: str = "bifrost-group"
    # extra Kafka source options, passed through verbatim (kafka.clj consumer
    # opts parity): consumer properties use the "kafka." prefix
    # (kafka.security.protocol, kafka.sasl.jaas.config, …), source options
    # are bare (failOnDataLoss, minPartitions, …)
    kafka_options: dict[str, str] = field(default_factory=dict)
    # sink wire format: "parquet" (columnar, default) | "baldr"
    # (byte-exact reference format via sources/baldr.py)
    sink_format: str = "parquet"


def kafka_reader_options(cfg: ArchiveConfig) -> dict[str, str]:
    """The Kafka source option set for ``cfg`` — one place, unit-testable
    without a broker (the connector jar is absent in this sandbox).
    ``kafka_options`` passthrough lets deployments set consumer properties
    (security.protocol, SASL) and source options (failOnDataLoss,
    minPartitions) without code changes, like the reference's config-driven
    consumer opts (kafka.clj)."""
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "subscribePattern": cfg.subscribe_pattern,
        "startingOffsets": cfg.starting_offsets,
    }
    if cfg.max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(cfg.max_offsets_per_trigger)
    opts.update(cfg.kafka_options)
    return opts


def build_source(spark: SparkSession, cfg: ArchiveConfig) -> DataFrame:
    """readStream in the message shape (topic/partition/offset/value/ts)."""
    if cfg.source == "kafka":
        reader = spark.readStream.format("kafka").options(**kafka_reader_options(cfg))
        df = reader.load()
        return df.select(
            "topic",
            "partition",
            "offset",
            "value",
            F.col("timestamp").alias("ts"),
        )
    if cfg.source == "file":
        if not cfg.input_path:
            raise ValueError("file source requires input_path")
        reader = spark.readStream.schema(MESSAGE_SCHEMA).format("parquet")
        if cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(cfg.max_files_per_trigger))
        return reader.load(cfg.input_path)
    raise ValueError(f"unknown source {cfg.source!r}")  # system.clj:38 exit-2 analog


def apply_topic_filter(df: DataFrame, cfg: ArchiveConfig) -> DataFrame:
    """(whitelist ∩ topics) − blacklist, kafka.clj:182-186."""
    if cfg.topic_whitelist is not None:
        df = df.filter(F.col("topic").isin(list(cfg.topic_whitelist)))
    if cfg.topic_blacklist:
        df = df.filter(~F.col("topic").isin(list(cfg.topic_blacklist)))
    return df


def _by_key(df: DataFrame) -> DataFrame:
    """Hash-partition messages on (topic, partition) into
    ``defaultParallelism`` tasks: every writer's write is sized by cores,
    not by input splits or keys, and each key stays in one task, so each
    leaf is written by one task (the reference's per-partition writers
    behind a fixed uploader pool, s3.clj:117-124).  The explicit count
    also keeps adaptive execution from folding a small batch onto one
    task."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, "topic", "partition")


def start_archive(spark: SparkSession, cfg: ArchiveConfig) -> StreamingQuery:
    """Partitioned exactly-once parquet archive.

    Layout: ``{output}/topic=<t>/partition=<p>/part-*.parquet`` — the
    engine's rendering of A11's object keys.  Each micro-batch is written
    by ``_by_key``'s core-sized tasks (one exchange; without it the file
    source hands the whole batch to one task per input split).  The
    checkpoint directory is the ZK-offset-store replacement (A14/A15):
    offsets WAL'd pre-batch, committed post-sink, so kill/restart resumes
    without loss and the manifest suppresses duplicate files (stronger
    than the reference's at-least-once)."""
    src = apply_topic_filter(build_source(spark, cfg), cfg)
    # In-flight quality counters via Spark's observe() API — evaluated
    # DURING the sink write (no second pass over the batch), surfaced per
    # micro-batch in progress.observedMetrics and forwarded to StatsD by
    # MetricsListener (A20 twin: the reference meters message rates and
    # empty-payload counts in telemetry.clj; here the plan itself counts)
    src = src.observe(
        "archive_quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value").isNull() | (F.length("value") == 0)).alias(
            "n_empty_payloads"
        ),
        F.sum(F.coalesce(F.length("value"), F.lit(0))).alias("payload_bytes"),
    )
    return (
        _by_key(src).writeStream.format("parquet")
        .option("path", cfg.output_path)
        .option("checkpointLocation", cfg.checkpoint_path)
        .partitionBy("topic", "partition")
        .trigger(processingTime=f"{cfg.rotation_interval_secs} seconds")
        .outputMode("append")
        .start()
    )


def _check_local_root(root: str) -> None:
    """Raise ``ValueError`` for a root with a URI scheme: the offset-named
    writers join paths and write with plain file calls, so ``s3a://b/a``
    would become the local directory ``s3a:/b/a`` while the stream still
    committed the batch's offsets."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", root):
        raise ValueError(
            f"offset-named writers write local or mounted paths only, not {root!r}"
            " (object stores: start_archive)"
        )


def write_offset_named(df: DataFrame, root: str, group_id: str, suffix: str, encode) -> list[Row]:
    """Write each (topic, partition) run of a message frame as ONE object
    ``<root>/<group_id>/<topic>/partition=<p>/<first offset %010d>.<suffix>``
    (the reference's key, s3.clj:15-20) and return the manifest rows
    (``MANIFEST_SCHEMA``, one per key).  ``encode(run, key)`` turns a run,
    an Arrow table sorted by offset, into the object's bytes; ``key`` is
    the object's path under the group.  It raises to refuse a run.

    One action: ``_by_key``'s exchange, then one ``mapInArrow`` task per
    slice that sorts its rows, splits them into per-key runs, encodes
    every run before it opens any file (a refused run leaves no object),
    writes each object to a hidden temp name in its directory and renames
    it into place, so an object appears whole or not at all (the
    reference uploads a finished temp file, kafka.clj:71-72).  A replayed
    batch has the same first offsets, so it overwrites the same keys.
    Payload bytes never pass through the driver.  A root with a URI
    scheme raises ``ValueError`` before any job runs.
    """
    _check_local_root(root)

    def write_task(batches):
        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        order = [("topic", "ascending"), ("partition", "ascending")]
        rows = pa.Table.from_batches(chunks).sort_by(order + [("offset", "ascending")])
        # one row per key in the rows' order: the runs are consecutive slices
        counts = (
            rows.group_by(["topic", "partition"]).aggregate([("offset", "count")]).sort_by(order)
        )
        manifest, encoded, start = [], [], 0
        for topic, part, n in zip(
            *(counts[c].to_pylist() for c in ("topic", "partition", "offset_count"))
        ):
            run = rows.slice(start, n)
            start += n
            first = run["offset"][0].as_py()
            key = f"{topic}/partition={part}/{first:010d}.{suffix}"
            encoded.append(encode(run, key))
            manifest.append((topic, part, first, n, os.path.join(root, group_id, key)))
        for (*_, path), data in zip(manifest, encoded):
            tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)
        topics, parts, firsts, ns, paths = zip(*manifest)
        yield pa.RecordBatch.from_pydict(
            {
                "topic": topics,
                "partition": pa.array(parts, pa.int32()),
                "first_offset": firsts,
                "n_records": ns,
                "path": paths,
            }
        )

    return _by_key(df).mapInArrow(write_task, MANIFEST_SCHEMA).collect()


def _parquet_object(run: pa.Table, key: str) -> bytes:
    """A run's ``offset, value, ts`` as one parquet file.  No embedded
    Arrow schema, no statistics on the opaque payload and no dictionaries
    (offsets and payloads do not repeat): each only adds bytes."""
    buf = pa.BufferOutputStream()
    pq.write_table(
        run.select(["offset", "value", "ts"]),
        buf,
        compression="zstd",
        use_dictionary=False,
        store_schema=False,
        write_statistics=["offset", "ts"],
    )
    return buf.getvalue().to_pybytes()


def _start_batch_writer(spark: SparkSession, cfg: ArchiveConfig, write) -> StreamingQuery:
    """The offset-named writers' stream: one ``write(batch)`` per rotation;
    the checkpoint commits the batch's offsets only after it returns.  A
    root with a URI scheme raises ``ValueError`` before the source is
    read."""
    _check_local_root(cfg.output_path)
    return (
        apply_topic_filter(build_source(spark, cfg), cfg)
        .writeStream.foreachBatch(lambda batch, _epoch: write(batch))
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(processingTime=f"{cfg.rotation_interval_secs} seconds")
        .start()
    )


def start_offset_named_archive(spark: SparkSession, cfg: ArchiveConfig) -> StreamingQuery:
    """The reference's exact leaf naming in parquet: one file per (topic,
    partition) per rotation, ``<group>/<topic>/partition=<p>/%010d.parquet``
    named by the batch's first offset (s3.clj:15-20,28), holding ``offset,
    value, ts``.  Each batch goes through ``write_offset_named``: one Spark
    action, each file written and renamed into place by its task, so the
    root is a local or mounted path (object stores: ``start_archive``).
    Idempotent on replay after a crash, same as the reference: same first
    offset → same key → overwrite.
    """
    return _start_batch_writer(
        spark,
        cfg,
        lambda batch: write_offset_named(
            batch, cfg.output_path, cfg.group_id, "parquet", _parquet_object
        ),
    )


def start_baldr_archive(spark: SparkSession, cfg: ArchiveConfig) -> StreamingQuery:
    """Byte-exact reference-format archive: each micro-batch is written as
    offset-named ``.baldr.gz`` objects (sources/baldr.py) — the engine's
    completion of A7's "exact baldr output" (kafka.clj:55-82, §7.4).

    Crash/retry safety matches the reference: a replayed batch regenerates
    the SAME object names (first offset) with byte-identical content
    (gzip mtime pinned), so re-upload is a no-op overwrite — the
    object-key idempotence of s3.clj:15-20 made digest-checkable."""
    from bifrost_spark.sources.baldr import write_baldr_archive

    return _start_batch_writer(
        spark, cfg, lambda batch: write_baldr_archive(batch, cfg.output_path, cfg.group_id)
    )
