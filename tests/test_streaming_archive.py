"""Streaming parity tests (SURVEY.md §5.2): rotation/partitioned layout
(A10/A11), offset contiguity (A9/A14), checkpoint recovery with no
duplicates (the Spark-strengthened version of the reference's at-least-once
contract), offset-named leaf files, and listener telemetry (A20).

Fixture: events → the exact consumed-message shape of the reference
(FIXTURES.md "Streaming-parity fixture"): topic/partition/offset/value/ts,
with offset = per-(topic,partition) dense row_number (Kafka log order).
"""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.streaming.archive import (
    ArchiveConfig,
    start_archive,
    start_baldr_archive,
    start_offset_named_archive,
)
from bifrost_spark.streaming.listener import MetricsListener
from bifrost_spark.tables import load_table


@pytest.fixture(scope="module")
def staged_messages(spark, sf_dir, tmp_path_factory):
    """Write the kafkaized message stream as 4 parquet files (4 triggers).

    Files are written sequentially in OFFSET order (file b holds each
    partition's b-th offset quarter) because the file source processes files
    in mtime order — this reproduces the Kafka source's per-partition
    in-order delivery, which the contiguity invariant depends on.
    """
    path = str(tmp_path_factory.mktemp("stream_in"))
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("topic", "partition").orderBy("global_id")
    msgs = (
        ev.select(
            F.col("event_type").alias("topic"),
            F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
            F.col("event_id").alias("global_id"),
            F.encode("props", "UTF-8").alias("value"),
            "ts",
        )
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .withColumn(
            "chunk",
            F.ntile(4).over(Window.partitionBy("topic", "partition").orderBy("offset")),
        )
        .select("topic", "partition", "offset", "value", "ts", "chunk")
    )
    msgs.cache().count()
    for b in range(1, 5):
        (
            msgs.filter(F.col("chunk") == b)
            .drop("chunk")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
    msgs.unpersist()
    n = spark.read.parquet(path).count()
    return path, n


def _drain(query):
    query.processAllAvailable()
    query.stop()


def test_partitioned_layout_and_completeness(spark, staged_messages, tmp_path):
    in_path, n_msgs = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=1,
        rotation_interval_secs=1,
    )
    _drain(start_archive(spark, cfg))

    # A11: Hive-style topic=/partition= layout
    dirs = glob.glob(str(tmp_path / "out" / "topic=*" / "partition=*"))
    assert dirs, "expected topic=*/partition=* directories"

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_msgs

    # A9/A14 invariant: per (topic,partition) offsets dense 0..max, no dups
    bounds = (
        out.groupBy("topic", "partition")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("offset").alias("nd"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
        )
        .collect()
    )
    for r in bounds:
        assert r["n"] == r["nd"], "duplicate offsets"
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1, "offset gap"


def test_checkpoint_restart_no_duplicates(spark, staged_messages, tmp_path):
    in_path, n_msgs = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=2,
        rotation_interval_secs=1,
    )
    _drain(start_archive(spark, cfg))
    first = spark.read.parquet(str(tmp_path / "out")).count()
    assert first == n_msgs

    # restart from the same checkpoint with no new input → nothing re-emitted
    _drain(start_archive(spark, cfg))
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_msgs


def test_midstream_kill_and_restart_exactly_once(spark, staged_messages, tmp_path):
    """Kill the query after the FIRST micro-batch (mid-stream, unconsumed
    input remaining), restart from the checkpoint, and drain: the archive
    must contain every message exactly once — the stronger version of the
    reference's crash contract (its at-least-once FSM re-uploads the same
    object key; the checkpoint + sink manifest deduplicates outright)."""
    in_path, n_msgs = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=1,  # 4 staged files → 4 batches
        rotation_interval_secs=1,
    )
    q = start_archive(spark, cfg)
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress.get("numInputRows", 0) > 0:
            break
        time.sleep(0.5)
    q.stop()  # kill mid-stream: 3 of 4 files unprocessed

    partial = spark.read.parquet(str(tmp_path / "out")).count()
    assert 0 < partial < n_msgs, f"expected a partial archive, got {partial}/{n_msgs}"

    _drain(start_archive(spark, cfg))  # restart from checkpoint
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_msgs
    assert (
        out.select("topic", "partition", "offset").distinct().count() == n_msgs
    ), "duplicates after restart"


def test_topic_filter(spark, staged_messages, tmp_path):
    in_path, _ = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        rotation_interval_secs=1,
        topic_blacklist=("click",),
        topic_whitelist=None,
    )
    _drain(start_archive(spark, cfg))
    out = spark.read.parquet(str(tmp_path / "out"))
    topics = {r["topic"] for r in out.select("topic").distinct().collect()}
    assert "click" not in topics and topics, f"blacklist leaked: {topics}"


def test_offset_named_leaves(spark, staged_messages, tmp_path):
    in_path, n_msgs = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=2,  # ≥2 rotations → ≥2 leaves per hot partition
        rotation_interval_secs=1,
        group_id="g1",
    )
    _drain(start_offset_named_archive(spark, cfg))

    leaves = glob.glob(str(tmp_path / "out" / "g1" / "*" / "partition=*" / "*.parquet"))
    assert leaves, "expected offset-named leaf directories"
    # s3.clj:15-20 parity: leaf name is the zero-padded first offset, and the
    # contained offsets start exactly there
    for leaf in leaves:
        name = os.path.basename(leaf).replace(".parquet", "")
        assert name.isdigit() and len(name) == 10, name
        lo = spark.read.parquet(leaf).agg(F.min("offset")).collect()[0][0]
        assert lo == int(name)
    total = sum(
        spark.read.parquet(leaf).count() for leaf in leaves
    )
    assert total == n_msgs

    # A9/A14 contiguity: consecutive leaves of one partition chain
    # first_offset → next first_offset with no gap/overlap
    by_partition: dict[str, list[str]] = {}
    for leaf in leaves:
        by_partition.setdefault(os.path.dirname(leaf), []).append(leaf)
    for part_dir, files in by_partition.items():
        files.sort()
        expected_next = 0
        for leaf in files:
            cnt = spark.read.parquet(leaf).count()
            assert int(os.path.basename(leaf).replace(".parquet", "")) == expected_next
            expected_next += cnt


@pytest.mark.parametrize(
    "start", [start_archive, start_offset_named_archive, start_baldr_archive]
)
def test_progress_counts_each_row_once(spark, staged_messages, tmp_path, start):
    """Streaming progress ``numInputRows`` (what MetricsListener forwards
    as message rates) sums to the input size for every writer: a writer
    that scans its batch twice would report each row twice."""
    in_path, n_msgs = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=2,
        rotation_interval_secs=1,
    )
    q = start(spark, cfg)
    _drain(q)
    assert sum(p["numInputRows"] for p in q.recentProgress) == n_msgs


@pytest.mark.parametrize(
    "start", [start_archive, start_offset_named_archive, start_baldr_archive]
)
def test_write_is_sized_by_cores(spark, staged_messages, tmp_path, start):
    """Every writer spreads a batch's leaves over the cores: each batch's
    write stage runs in ``defaultParallelism`` tasks, not in one task per
    input split.  Streaming runs a query's jobs, its ``foreachBatch``
    callbacks' included, in the job group of its run id."""
    in_path, _ = staged_messages
    cfg = ArchiveConfig(
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=in_path,
        max_files_per_trigger=2,
        rotation_interval_secs=1,
    )
    q = start(spark, cfg)
    _drain(q)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tasks = {}  # stage id -> tasks; a reused map stage is listed by two jobs
    for job_id in tracker.getJobIdsForGroup(str(q.runId)):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None and st.numCompletedTasks > 0:
                tasks[stage_id] = st.numTasks
    n = sc.defaultParallelism
    assert n > 1 and n_batches == 2
    assert max(tasks.values()) == n, tasks
    assert list(tasks.values()).count(n) == n_batches, tasks


@pytest.mark.parametrize("some_keys", [True, False], ids=["some-keys", "all-keys"])
@pytest.mark.parametrize("writer", ["offset", "baldr"])
def test_crash_after_write_replays_exactly_once(
    spark, tmp_path, monkeypatch, writer, some_keys
):
    """Kill an offset-named writer (parquet leaves or baldr objects) in
    its second batch after it wrote some or all of the batch's objects
    (before the checkpoint commit), restart from the same checkpoint and
    drain: the replay rewrites the same object names with the same bytes,
    and ``check_drain`` finds every (topic, partition, offset) exactly
    once, leaves named by first offset and chained (and, for baldr, the
    bytes equal to the input).  The seed-5 backlog has 64 keys, more than
    ``defaultParallelism``, so tasks write many objects each."""
    import hashlib

    from perfbench import backlog as pb_backlog
    from perfbench.drain import GROUP, WRITERS, Drain, check_drain

    from bifrost_spark.streaming import archive

    work = str(tmp_path)
    backlog = pb_backlog.generate(str(tmp_path / "in"), seed=5, n_files=2)
    assert len(backlog.runs) > spark.sparkContext.defaultParallelism
    out = tmp_path / f"out-{writer}"
    cfg = ArchiveConfig(
        output_path=str(out),
        checkpoint_path=str(tmp_path / "ckpt"),
        source="file",
        input_path=backlog.path,
        max_files_per_trigger=1,
        rotation_interval_secs=0,
        group_id=GROUP,
    )
    real_write, written = archive.write_offset_named, []

    def crashing_write(batch, *args):
        crash = bool(written)  # the second batch
        if crash and some_keys:
            batch = batch.filter(F.col("partition") < 2)
        rows = real_write(batch, *args)
        written.append(len(rows))
        if crash:
            raise OSError("injected: crash after the write")
        return rows

    suffix = "parquet" if writer == "offset" else "baldr.gz"

    def digests() -> dict[str, str]:
        return {
            str(f): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in out.glob(f"{GROUP}/*/partition=*/*.{suffix}")
        }

    monkeypatch.setattr(archive, "write_offset_named", crashing_write)
    q = WRITERS[writer](spark, cfg)
    with pytest.raises(Exception, match="injected"):
        q.processAllAvailable()
    q.stop()
    committed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(committed) == 1 and len(written) == 2
    before = digests()
    assert len(before) == sum(written) and 0 < written[1]

    monkeypatch.setattr(archive, "write_offset_named", real_write)
    q = WRITERS[writer](spark, cfg)
    _drain(q)
    after = digests()
    assert {f: after.get(f) for f in before} == before  # same bytes on replay
    assert (len(after) > len(before)) == some_keys
    d = Drain(writer, 0.0, 0.0, committed)
    d.batches += [p for p in q.recentProgress if p["numInputRows"] > 0]
    check_drain(d, backlog, work)
    assert d.problems == []


def test_metrics_listener(spark, staged_messages, tmp_path):
    in_path, n_msgs = staged_messages
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        cfg = ArchiveConfig(
            output_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ckpt"),
            source="file",
            input_path=in_path,
            rotation_interval_secs=1,
        )
        _drain(start_archive(spark, cfg))
        # progress events are delivered asynchronously — allow a grace period
        deadline = time.time() + 15
        while listener.total_input_rows() < n_msgs and time.time() < deadline:
            time.sleep(0.2)
        assert listener.total_input_rows() == n_msgs
    finally:
        spark.streams.removeListener(listener)


def test_available_now_backfill_drains_and_terminates(spark, staged_messages, tmp_path):
    """Trigger.AvailableNow — the BACKFILL mode: process everything staged
    at start, respecting maxFilesPerTrigger batching, then terminate on
    its own (no processAllAvailable babysitting).  The replay story for
    re-ingesting an archive after downtime."""
    in_path, n_msgs = staged_messages
    src = (
        spark.readStream.schema(
            spark.read.parquet(in_path).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_path)
    )
    q = (
        src.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_msgs


def test_metrics_listener_from_env():
    """Daemon telemetry parity: STATSD_HOST/STATSD_PORT env configure the
    emitter; unset host leaves metrics in-memory only."""
    on = MetricsListener.from_env({"STATSD_HOST": "127.0.0.1", "STATSD_PORT": "9125"})
    assert on._statsd == ("127.0.0.1", 9125)
    assert on._sock is not None
    off = MetricsListener.from_env({})
    assert off._statsd is None and off._sock is None


def test_build_number_gauge_emitted_on_start():
    """A24 parity: query start gauges the build number (reference
    version.clj + telemetry reporter).  Captured via a real UDP socket."""
    import socket as _socket

    from bifrost_spark.streaming.listener import _build_number

    rx = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]
    listener = MetricsListener(statsd_host="127.0.0.1", statsd_port=port)
    listener.onQueryStarted(None)
    seen = {rx.recvfrom(1024)[0].decode(), rx.recvfrom(1024)[0].decode()}
    rx.close()
    assert "bifrost.query.started:1|g" in seen
    assert f"bifrost.build:{_build_number()}|g" in seen
    assert _build_number() >= 100  # 0.1.0 → 100


def test_kafka_reader_options_passthrough():
    """A3 config surface: base options (bootstrap/pattern/offsets/
    backpressure) plus verbatim passthrough of consumer properties and
    source options — deployments configure security without code changes."""
    from bifrost_spark.streaming.archive import kafka_reader_options

    cfg = ArchiveConfig(
        output_path="/tmp/o",
        checkpoint_path="/tmp/c",
        source="kafka",
        bootstrap_servers="b1:9092,b2:9092",
        subscribe_pattern="events\\..*",
        max_offsets_per_trigger=5000,
        kafka_options={
            "kafka.security.protocol": "SASL_SSL",
            "kafka.sasl.mechanism": "SCRAM-SHA-512",
            "failOnDataLoss": "false",
            "minPartitions": "64",
        },
    )
    opts = kafka_reader_options(cfg)
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribePattern"] == "events\\..*"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    assert opts["minPartitions"] == "64"


def test_build_source_kafka_contract(spark, monkeypatch):
    """A3 contract pin: the EXACT (format, option-map) the live
    ``format("kafka")`` path would hand Spark, for each ArchiveConfig
    permutation — captured by intercepting DataStreamReader.load (the jar
    is absent in this sandbox, so .load() itself can never run here).
    When the connector jar appears, this test documents precisely what the
    broker integration will receive (VERDICT r3 item 5)."""
    from pyspark.sql.streaming.readwriter import DataStreamReader

    from bifrost_spark.streaming.archive import build_source

    captured = {}
    orig_format, orig_options = DataStreamReader.format, DataStreamReader.options

    def rec_format(self, source):
        captured["format"] = source
        return orig_format(self, source)

    def rec_options(self, **opts):
        captured["options"] = dict(opts)
        return orig_options(self, **opts)

    def fake_load(self, path=None, **kw):
        import pandas as pd

        # return a static frame in the kafka wire shape — build_source's
        # downstream select is exercised for real
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "topic": ["t"],
                    "partition": [0],
                    "offset": [0],
                    "value": [b"x"],
                    "timestamp": [pd.Timestamp("2024-01-01")],
                }
            )
        )

    monkeypatch.setattr(DataStreamReader, "format", rec_format)
    monkeypatch.setattr(DataStreamReader, "options", rec_options)
    monkeypatch.setattr(DataStreamReader, "load", fake_load)

    # permutation 1: defaults
    cfg = ArchiveConfig(output_path="/tmp/o", checkpoint_path="/tmp/c", source="kafka")
    df = build_source(spark, cfg)
    assert captured["format"] == "kafka"
    assert captured["options"] == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribePattern": ".*",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "1000000",
    }
    assert df.columns == ["topic", "partition", "offset", "value", "ts"]

    # permutation 2: backpressure off + security passthrough
    cfg = ArchiveConfig(
        output_path="/tmp/o",
        checkpoint_path="/tmp/c",
        source="kafka",
        bootstrap_servers="b1:9092",
        subscribe_pattern="ev\\..*",
        starting_offsets="latest",
        max_offsets_per_trigger=None,
        kafka_options={"kafka.security.protocol": "SASL_SSL"},
    )
    build_source(spark, cfg)
    assert captured["options"] == {
        "kafka.bootstrap.servers": "b1:9092",
        "subscribePattern": "ev\\..*",
        "startingOffsets": "latest",
        "kafka.security.protocol": "SASL_SSL",
    }

    # permutation 3: passthrough may override a base option (last wins —
    # the documented escape hatch for e.g. assign-mode offsets)
    cfg = ArchiveConfig(
        output_path="/tmp/o",
        checkpoint_path="/tmp/c",
        source="kafka",
        max_offsets_per_trigger=500,
        kafka_options={"startingOffsets": """{"t":{"0":42}}"""},
    )
    build_source(spark, cfg)
    assert captured["options"]["startingOffsets"] == """{"t":{"0":42}}"""
    assert captured["options"]["maxOffsetsPerTrigger"] == "500"


def test_observed_quality_metrics_reach_listener(spark, staged_messages, tmp_path):
    """A20 via Spark's observe() API: the archive plan counts rows, empty
    payloads, and payload bytes IN-FLIGHT (no second pass); the listener
    reads progress.observedMetrics and (with StatsD configured) emits
    bifrost.observed.* gauges.  Ground truth recomputed from the staged
    input."""
    import socket as sk

    from pyspark.sql import functions as F

    rx = sk.socket(sk.AF_INET, sk.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]
    in_path, n_msgs = staged_messages
    listener = MetricsListener(statsd_host="127.0.0.1", statsd_port=port)
    spark.streams.addListener(listener)
    try:
        cfg = ArchiveConfig(
            output_path=str(tmp_path / "out"),
            checkpoint_path=str(tmp_path / "ckpt"),
            source="file",
            input_path=in_path,
            rotation_interval_secs=1,
        )
        q = start_archive(spark, cfg)
        q.processAllAvailable()
        q.stop()

        # observed metrics live in the listener's progress history;
        # Python listeners are fed from an async queue, so poll
        seen = {}
        for _ in range(100):
            seen = {}
            for p in listener.progress:
                for name, metrics in (p.get("observedMetrics") or {}).items():
                    for k, v in (metrics or {}).items():
                        seen[f"{name}.{k}"] = seen.get(f"{name}.{k}", 0) + v
            if seen.get("archive_quality.n_rows"):
                break
            time.sleep(0.1)
        src = spark.read.parquet(in_path)
        want_rows = src.count()
        want_bytes = src.select(
            F.sum(F.coalesce(F.length("value"), F.lit(0)))
        ).first()[0]
        assert seen.get("archive_quality.n_rows") == want_rows
        assert seen.get("archive_quality.payload_bytes") == want_bytes
        assert seen.get("archive_quality.n_empty_payloads") == 0

        # and at least one observed gauge went out over StatsD
        got_obs = False
        for _ in range(200):
            try:
                line = rx.recvfrom(2048)[0].decode()
            except sk.timeout:
                break
            if line.startswith("bifrost.observed.archive_quality."):
                got_obs = True
                break
        assert got_obs
    finally:
        spark.streams.removeListener(listener)
        rx.close()
