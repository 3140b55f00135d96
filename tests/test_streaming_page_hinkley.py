"""Gates for the streaming Page-Hinkley monitor
(streaming/page_hinkley.py): exact batch parity with q_page_hinkley when
all days arrive in one micro-batch, BIT-identical walk continuation
across batches (exact decimal output-carried state — the strongest carry
in the pairing family), replay idempotence of the state read (only the
newest partition below N), and backfill rejection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming.page_hinkley import (
    _prior_state,
    batch_ph_update,
    start_ph_monitor,
)
from bifrost_spark.tables import load_table

_OUT_COLS = ["day", "day_mean", "ph_m", "deficit", "alarm"]


def _rows(df):
    return {tuple(r[c] for c in _OUT_COLS) for r in df.select(*_OUT_COLS).collect()}


def _day_split(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    days = [
        r["day"]
        for r in ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .orderBy("day")
        .collect()
    ]
    mid = days[len(days) // 2]
    return ev, mid


def test_single_batch_matches_batch_twin_exactly(spark, sf_dir, tmp_path):
    ev, _ = _day_split(spark, sf_dir)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_ph_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    assert _rows(spark.read.parquet(out)) == _rows(
        registry.queries()["q_page_hinkley"](spark, sf_dir)
    )


def test_multi_batch_state_continues_bit_identically(spark, sf_dir, tmp_path):
    ev, mid = _day_split(spark, sf_dir)
    src = str(tmp_path / "msrc")
    ev.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.parquet(src)
    ev.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "mout"), str(tmp_path / "mckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_ph_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    emitted = spark.read.parquet(out)
    assert emitted.select("batch_id").distinct().count() == 2
    # exact decimal carry → set equality with the single-shot batch walk
    assert _rows(emitted) == _rows(
        registry.queries()["q_page_hinkley"](spark, sf_dir)
    )


def test_replay_reads_only_prior_partitions(spark, sf_dir, tmp_path):
    from bifrost_spark.streaming._sink import write_batch_partition

    ev, mid = _day_split(spark, sf_dir)
    first = ev.filter(F.date_trunc("day", "ts") < F.lit(mid))
    second = ev.filter(F.date_trunc("day", "ts") >= F.lit(mid))
    out = str(tmp_path / "rout")
    write_batch_partition(batch_ph_update(first, 0, None, None, None), 0, out)
    t1, sm1, sa1, mn1, d1 = _prior_state(spark, out, 1)
    write_batch_partition(batch_ph_update(second, t1, sm1, sa1, mn1), 1, out)
    once = _rows(spark.read.parquet(out))
    t1b, sm1b, sa1b, mn1b, d1b = _prior_state(spark, out, 1)
    assert (t1b, sm1b, sa1b, mn1b, d1b) == (t1, sm1, sa1, mn1, d1)
    write_batch_partition(batch_ph_update(second, t1b, sm1b, sa1b, mn1b), 1, out)
    assert _rows(spark.read.parquet(out)) == once


def test_backfill_batch_is_rejected(spark, sf_dir, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ev, mid = _day_split(spark, sf_dir)
    src = str(tmp_path / "bsrc")
    ev.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.parquet(src)
    ev.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_ph_monitor(stream, out, ckpt)
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.processAllAvailable()
    q.stop()
