"""The bifrost archival pipeline, Spark-first (SURVEY.md §2 Part A, §7.1
"archive" layer).

Reference behavior being re-expressed (uswitch/bifrost):
  * consume all topics minus blacklist / intersect whitelist
    (kafka.clj:182-186) → ``subscribePattern`` + a relational filter
  * frame raw bytes into files, rotate on a fixed interval
    (kafka.clj:103-120) → one micro-batch per ``trigger(processingTime=…)``
  * upload under ``<group>/<topic>/partition=<p>/<%010d first-offset>``
    (s3.clj:15-20) → ``partitionBy("topic","partition")`` parquet layout;
    offset-named leaf files via the foreachBatch writer below
  * commit offset only after a successful upload (s3.clj:40-80 FSM) →
    Structured Streaming checkpoint: offsets WAL before the batch, commit
    log after sink success — same at-least-once contract, strengthened to
    exactly-once by the file sink's manifest

At scale: the Kafka source maps 1 Kafka partition → 1 task (A5's
per-partition parallelism), ``maxOffsetsPerTrigger`` is the backpressure
bound (A18), and the sink's partitioned layout is exactly the reference's
Hive-style object keying (A11), so downstream engines partition-prune.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
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
from pyspark.sql.window import Window

from bifrost_spark.streaming._sink import hadoop_fs

# A staged file of the offset-named writer: its ``leaf=`` directory holds
# the final relative path (Spark escapes partition values in directory
# names, hence ``unquote``)
_STAGED_LEAF = re.compile(r"/leaf=([^/]*)/[^/]+$")

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
    # uploader concurrency analog (A17): write tasks of the parquet and
    # offset-named writers; None means defaultParallelism (one per core),
    # which the baldr writer always uses
    sink_partitions: int | None = None
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


def _by_key(df: DataFrame, cfg: ArchiveConfig) -> DataFrame:
    """Hash-partition messages on (topic, partition) into ``sink_partitions
    or defaultParallelism`` tasks: the write is sized by cores, not by
    input splits or keys, and each key stays in one task, so each leaf is
    written as one file (the reference's per-partition writers behind a
    fixed uploader pool, s3.clj:117-124)."""
    n_tasks = cfg.sink_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_tasks, "topic", "partition")


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
        _by_key(src, cfg).writeStream.format("parquet")
        .option("path", cfg.output_path)
        .option("checkpointLocation", cfg.checkpoint_path)
        .partitionBy("topic", "partition")
        .trigger(processingTime=f"{cfg.rotation_interval_secs} seconds")
        .outputMode("append")
        .start()
    )


def start_offset_named_archive(spark: SparkSession, cfg: ArchiveConfig) -> StreamingQuery:
    """foreachBatch writer producing the reference's exact leaf naming:
    one file per (topic, partition) per rotation, named
    ``%010d.parquet`` by the batch's first offset (s3.clj:15-20,28) —
    idempotent on re-upload after crash, same as the reference (same first
    offset → same key → overwrite).

    Batch-local plan: one scan and one distributed write per micro-batch
    (two Spark jobs under adaptive execution), in ``_by_key``'s core-sized
    tasks; hashing keeps each key in one task, so each staged leaf holds
    one file.  The key's first offset is a window ``min(offset)`` inside
    that job (no extra exchange: the repartition meets its distribution).
    The batch is staged under ONE partition column, ``leaf``, holding the
    final relative path ``<topic>/partition=<p>/<%010d>.parquet``, so each
    leaf costs one staging directory (every directory the local Hadoop
    FileSystem creates forks a ``chmod``).  The driver lists every staged
    file with ONE ``globStatus`` and renames each to its leaf via the
    Hadoop FileSystem API (file://, s3a://, abfss://), concurrently across
    keys: O(keys) metadata round-trips, not O(keys) Spark jobs.
    """

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        spark_b = batch.sparkSession
        staging = f"{cfg.output_path}/.staging-epoch-{epoch_id}"
        first_offset = F.min("offset").over(Window.partitionBy("topic", "partition"))
        (
            _by_key(batch, cfg)
            .withColumn(
                "leaf",
                F.format_string(
                    "%s/partition=%d/%010d.parquet", "topic", "partition", first_offset
                ),
            )
            .drop("topic", "partition")
            .write.mode("overwrite")
            .partitionBy("leaf")
            .parquet(staging)
        )

        HPath = spark_b._jvm.org.apache.hadoop.fs.Path
        fs = hadoop_fs(spark_b, staging)
        leaves: dict[str, list] = {}
        for st in fs.globStatus(HPath(f"{staging}/leaf=*/part-*")) or []:
            src = st.getPath()
            leaf = unquote(_STAGED_LEAF.search(src.toString()).group(1))
            leaves.setdefault(leaf, []).append(src)

        def move_leaf(item: tuple) -> None:
            leaf, staged = item
            if len(staged) != 1:
                raise RuntimeError(
                    f"expected exactly 1 staged file for {leaf}, got {len(staged)}"
                )
            dst = HPath(f"{cfg.output_path}/{cfg.group_id}/{leaf}")
            fs.mkdirs(dst.getParent())
            # crash-replay idempotence: same first offset → same key →
            # overwrite (s3.clj:15-20 semantics)
            fs.delete(dst, False)
            if not fs.rename(staged[0], dst):
                raise RuntimeError(f"rename failed for {dst}")

        # threads start on demand, at most one per leaf
        with ThreadPoolExecutor(max_workers=16) as pool:
            # list() re-raises the first worker exception → batch fails →
            # offsets not committed → replay, preserving at-least-once
            list(pool.map(move_leaf, leaves.items()))
        fs.delete(HPath(staging), True)

    src = apply_topic_filter(build_source(spark, cfg), cfg)
    return (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(processingTime=f"{cfg.rotation_interval_secs} seconds")
        .start()
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

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        write_baldr_archive(batch, cfg.output_path, cfg.group_id)

    src = apply_topic_filter(build_source(spark, cfg), cfg)
    return (
        src.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_path)
        .trigger(processingTime=f"{cfg.rotation_interval_secs} seconds")
        .start()
    )
