"""End-to-end CLI test: the archival daemon boots from a JSON config, runs
the standing query, archives staged input, and shuts down gracefully on
SIGTERM — the reference's whole process lifecycle (main.clj:25-37) at its
real surface (a separate OS process).
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def staged_input(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli_in"))
    ev = load_table(spark, sf_dir, "events")
    # per-(topic,partition) contiguous offsets from 0, like a real Kafka
    # partition — the baldr writer enforces gap-free runs
    w = Window.partitionBy("topic", "partition").orderBy("event_id")
    (
        ev.select(
            F.col("event_type").alias("topic"),
            F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
            F.col("event_id"),
            F.encode("props", "UTF-8").alias("value"),
            "ts",
        )
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .drop("event_id")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path, ev.count()


def test_cli_archives_and_stops_on_sigterm(staged_input, tmp_path):
    in_path, n_rows = staged_input
    out = str(tmp_path / "out")
    cfg = {
        "output_path": out,
        "checkpoint_path": str(tmp_path / "ckpt"),
        "source": "file",
        "input_path": in_path,
        "rotation_interval_secs": 1,
    }
    cfg_path = str(tmp_path / "archive.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    proc = subprocess.Popen(
        [sys.executable, "-m", "bifrost_spark.main", "-c", cfg_path],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        # wait until the archive materializes all rows
        import duckdb

        deadline = time.time() + 120
        done = False
        while time.time() < deadline:
            try:
                n = duckdb.sql(
                    f"SELECT count(*) FROM parquet_scan('{out}/*/*/*.parquet', hive_partitioning=1)"
                ).fetchone()[0]
                if n >= n_rows:
                    done = True
                    break
            except Exception:
                pass
            time.sleep(2)
        assert done, "archive did not complete within 120s"

        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=60)
        assert proc.returncode == 0, f"daemon exited {proc.returncode}"
    finally:
        if proc.poll() is None:
            proc.kill()


def test_cli_rejects_unknown_config_key(tmp_path):
    cfg_path = str(tmp_path / "bad.json")
    with open(cfg_path, "w") as fh:
        json.dump({"output_path": "/tmp/x", "checkpoint_path": "/tmp/y", "bogus": 1}, fh)
    proc = subprocess.run(
        [sys.executable, "-m", "bifrost_spark.main", "-c", cfg_path],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert "unknown config keys" in proc.stderr


def test_operator_catalog_in_sync():
    """OPERATORS.md must match the live registry exactly (regenerate with
    `python -m bifrost_spark.catalog > OPERATORS.md` after adding a query)."""
    from bifrost_spark.catalog import render

    assert open("/root/repo/OPERATORS.md").read() == render()


def test_cli_baldr_sink_format(staged_input, tmp_path):
    """Daemon with sink_format=baldr writes the reference wire format
    end-to-end from the CLI surface (uploader-selection parity: the
    reference picks its storage backend from config, system.clj)."""
    import glob

    in_path, n_rows = staged_input
    out = str(tmp_path / "out")
    cfg = {
        "output_path": out,
        "checkpoint_path": str(tmp_path / "ckpt"),
        "source": "file",
        "input_path": in_path,
        "rotation_interval_secs": 1,
        "sink_format": "baldr",
    }
    cfg_path = str(tmp_path / "archive.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    proc = subprocess.Popen(
        [sys.executable, "-m", "bifrost_spark.main", "-c", cfg_path],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        from bifrost_spark.sources.baldr import unframe_records
        import gzip

        deadline = time.time() + 120
        total = 0
        while time.time() < deadline:
            total = 0
            for f in glob.glob(f"{out}/**/*.baldr.gz", recursive=True):
                try:
                    total += len(unframe_records(gzip.decompress(open(f, "rb").read())))
                except (ValueError, OSError):
                    break  # mid-write; retry next poll
            if total >= n_rows:
                break
            time.sleep(2)
        assert total >= n_rows, f"baldr archive incomplete: {total}/{n_rows}"

        proc.send_signal(signal.SIGTERM)
        proc.wait(timeout=60)
        assert proc.returncode == 0
    finally:
        if proc.poll() is None:
            proc.kill()


def test_cli_compact_manifest_subcommand(spark, tmp_path, capsys):
    """End-to-end maintenance path: archive via the daemon's default sink,
    then `compact` (which finds the `_spark_metadata` log itself) folds the
    small files and prints one JSON stats line; the archive reads back
    identically."""
    import glob as _glob
    import json as _json

    from bifrost_spark.main import main as cli_main

    in_path, out = tmp_path / "in", tmp_path / "out"
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i, float(i)) for i in range(8)], "event_id long, v double"
        ).coalesce(1).write.mode("append").parquet(str(in_path))
    stream = (
        spark.readStream.schema("event_id long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_path))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    before = {tuple(r) for r in spark.read.parquet(str(out)).collect()}

    rc = cli_main(["compact", "--path", str(out)])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["bins_written"] >= 1
    assert {tuple(r) for r in spark.read.parquet(str(out)).collect()} == before
    assert not _glob.glob(f"{out}/part-*.parquet")


def test_baldr_refuses_object_store_root_before_the_stream_starts(spark, tmp_path):
    """The baldr writer writes with plain file calls: an ``s3a://`` root
    from the CLI config must fail before the stream reads a batch, not be
    written to a local ``s3a:`` directory while the offsets commit."""
    from bifrost_spark.main import load_config
    from bifrost_spark.sources.baldr import write_baldr_archive
    from bifrost_spark.streaming.archive import start_baldr_archive

    cfg_path = tmp_path / "archive.json"
    cfg_path.write_text(json.dumps({
        "output_path": "s3a://bucket/archive",
        "checkpoint_path": str(tmp_path / "ckpt"),
        "source": "file",
        "input_path": str(tmp_path),
        "sink_format": "baldr",
    }))
    cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    before = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="s3a://bucket/archive"):
            start_baldr_archive(spark, load_config(str(cfg_path)))
        assert {q.id for q in spark.streams.active} == before
        # the writer itself refuses the root before it runs a job
        with pytest.raises(ValueError, match="s3a://bucket/archive"):
            write_baldr_archive(spark.range(0), "s3a://bucket/archive")
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()
    assert not os.path.exists(os.path.join(cwd, "s3a:"))
    assert not os.path.exists("s3a:")
