"""Gates for the streaming CUSUM monitor (streaming/cusum_monitor.py):
exact batch parity with q_cusum_drift when all post-baseline days arrive
in one micro-batch, bit-identical walk continuation across batches
(output-carried RAW state), and replay idempotence of the state read
(only the newest partition below N) — the same three gates as the SPRT
twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming.cusum_monitor import (
    _prior_state,
    batch_cusum_update,
    fit_cusum_baseline,
    start_cusum_monitor,
)
from bifrost_spark.tables import load_table

_OUT_COLS = ["day", "day_mean", "s_pos", "s_neg", "alarm_pos", "alarm_neg"]


def _rows(df):
    return {tuple(r[c] for c in _OUT_COLS) for r in df.select(*_OUT_COLS).collect()}


def _split_days(spark, sf_dir):
    """(baseline events, post-baseline events, post-baseline day list):
    the first 7 distinct days fit the baseline, exactly as the batch
    query ranks them."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    days = [
        r["day"]
        for r in ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .orderBy("day")
        .collect()
    ]
    cut = days[7]
    base = ev.filter(F.date_trunc("day", "ts") < F.lit(cut))
    tail = ev.filter(F.date_trunc("day", "ts") >= F.lit(cut))
    return base, tail, days[7:]


def test_single_batch_matches_batch_twin_exactly(spark, sf_dir, tmp_path):
    base, tail, _ = _split_days(spark, sf_dir)
    mu0, s0 = fit_cusum_baseline(base)
    src = str(tmp_path / "src")
    tail.coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_cusum_monitor(stream, mu0, s0, out, ckpt)
    q.processAllAvailable()
    q.stop()
    batch_rows = _rows(registry.queries()["q_cusum_drift"](spark, sf_dir))
    assert _rows(spark.read.parquet(out)) == batch_rows


def test_multi_batch_state_continues_bit_identically(spark, sf_dir, tmp_path):
    """Post-baseline days split at a day boundary across two files: the
    union of the two batches' rows must equal the single-shot batch walk
    EXACTLY — the raw sp_exact/sn_exact carry makes the continuation
    bit-identical, not approximately equal."""
    base, tail, tail_days = _split_days(spark, sf_dir)
    mu0, s0 = fit_cusum_baseline(base)
    mid = tail_days[len(tail_days) // 2]
    src = str(tmp_path / "msrc")
    tail.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.parquet(
        src
    )
    tail.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "mout"), str(tmp_path / "mckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_cusum_monitor(stream, mu0, s0, out, ckpt)
    q.processAllAvailable()
    q.stop()
    emitted = spark.read.parquet(out)
    assert emitted.select("batch_id").distinct().count() == 2
    assert _rows(emitted) == _rows(registry.queries()["q_cusum_drift"](spark, sf_dir))


def test_replay_reads_only_prior_partitions(spark, sf_dir, tmp_path):
    from bifrost_spark.streaming._sink import write_batch_partition

    base, tail, tail_days = _split_days(spark, sf_dir)
    mu0, s0 = fit_cusum_baseline(base)
    mid = tail_days[len(tail_days) // 2]
    first = tail.filter(F.date_trunc("day", "ts") < F.lit(mid))
    second = tail.filter(F.date_trunc("day", "ts") >= F.lit(mid))
    out = str(tmp_path / "rout")
    write_batch_partition(batch_cusum_update(first, mu0, s0, 0.0, 0.0), 0, out)
    sp1, sn1, d1 = _prior_state(spark, out, 1)
    write_batch_partition(batch_cusum_update(second, mu0, s0, sp1, sn1), 1, out)
    once = _rows(spark.read.parquet(out))
    # replay batch 1: its own partition must not feed its state
    sp1b, sn1b, d1b = _prior_state(spark, out, 1)
    assert (sp1b, sn1b, d1b) == (sp1, sn1, d1)
    write_batch_partition(batch_cusum_update(second, mu0, s0, sp1b, sn1b), 1, out)
    assert _rows(spark.read.parquet(out)) == once


def test_backfill_batch_is_rejected(spark, sf_dir, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    base, tail, tail_days = _split_days(spark, sf_dir)
    mu0, s0 = fit_cusum_baseline(base)
    mid = tail_days[len(tail_days) // 2]
    src = str(tmp_path / "bsrc")
    # LATE days first, so the earlier cohort arrives as batch 2
    tail.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.parquet(
        src
    )
    tail.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_cusum_monitor(stream, mu0, s0, out, ckpt)
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.processAllAvailable()
    q.stop()
