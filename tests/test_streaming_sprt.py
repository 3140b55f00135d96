"""Gates for the streaming SPRT monitor (streaming/sprt_monitor.py):
exact batch parity with q_sprt_monitor when the whole experiment arrives
in one micro-batch, cumulative-offset continuity when user-complete
cohorts arrive across batches, and replay idempotence of the
output-carried state (only the newest partition below N is read).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming.sprt_monitor import (
    _prior_state,
    batch_sprt_update,
    start_sprt_monitor,
)
from bifrost_spark.tables import load_table

_OUT_COLS = ["day", "n_day", "c_day", "n_cum", "conv_cum", "llr", "decision"]


def _rows(df):
    return {tuple(r[c] for c in _OUT_COLS) for r in df.select(*_OUT_COLS).collect()}


def _twin_rows(spark, sf_dir):
    """q_sprt_monitor's rows keyed the same way (it drops the increments,
    so recompute them from consecutive cumulative columns)."""
    rows = sorted(
        registry.queries()["q_sprt_monitor"](spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    out = set()
    pn = pc = 0
    for r in rows:
        out.add(
            (
                r["day"],
                r["n_cum"] - pn,
                r["conv_cum"] - pc,
                r["n_cum"],
                r["conv_cum"],
                r["llr"],
                r["decision"],
            )
        )
        pn, pc = r["n_cum"], r["conv_cum"]
    return out


def test_single_batch_matches_batch_twin_exactly(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_sprt_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    assert _rows(spark.read.parquet(out)) == _twin_rows(spark, sf_dir)


def _crafted_events(tmp_path, spark):
    """Fixture-shaped corpus whose users ENTER on three distinct days
    (the real fixture's users all enter in the first hours, so it cannot
    exercise a cross-batch entry-day split).  Users with many purchases
    convert under the 4*p > n rule."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SF_DIR

    for f in os.listdir(SF_DIR):
        os.symlink(os.path.join(SF_DIR, f), os.path.join(tmp_path, f))
    os.unlink(os.path.join(tmp_path, "events.parquet"))
    rows = []
    eid = 0
    for day, users in ((1, range(100, 110)), (2, range(200, 210)),
                       (3, range(300, 310))):
        for u in users:
            # converted iff u % 3 == 0: purchases 2/4 of events
            kinds = (
                ["purchase", "purchase", "view", "view"]
                if u % 3 == 0
                else ["purchase", "view", "view", "view"]
            )
            for j, k in enumerate(kinds):
                rows.append(
                    (eid, pd.Timestamp(f"2024-01-0{day} 0{j}:00:00"), u, k, 1.0, None)
                )
                eid += 1
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        os.path.join(tmp_path, "events.parquet"),
    )
    return str(tmp_path)


def test_multi_batch_offsets_continue_the_walk(spark, tmp_path):
    """User-complete cohorts split at an entry-day boundary: the union of
    the two batches' emitted rows must equal the batch twin — the second
    batch's walk continues from the output-carried totals."""
    (tmp_path / "fixture").mkdir(exist_ok=True)
    sf = _crafted_events(tmp_path / "fixture", spark)
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-02 00:00:00").cast("timestamp")
    entry = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    early = entry.filter(F.col("t0") < cut).select("user_id")
    src = str(tmp_path / "msrc")
    ev.join(early, "user_id", "left_semi").coalesce(1).write.parquet(src)
    ev.join(early, "user_id", "left_anti").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "mout"), str(tmp_path / "mckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_sprt_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    emitted = spark.read.parquet(out)
    n_batches = emitted.select("batch_id").distinct().count()
    assert n_batches == 2
    # file pickup order follows write order (early cohort first); a wrong
    # order would corrupt the walk offsets and fail the twin compare
    assert _rows(emitted) == _twin_rows(spark, sf)


def test_backfill_batch_is_rejected(spark, tmp_path):
    """ADVICE r8: a micro-batch whose earliest entry day does not strictly
    follow the last emitted day is a backfill correction; the monitor must
    fail it, not append non-monotone duplicate-day cumulative rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    (tmp_path / "fixture").mkdir(exist_ok=True)
    sf = _crafted_events(tmp_path / "fixture", spark)
    ev = load_table(spark, sf, "events")
    cut = F.lit("2024-01-02 00:00:00").cast("timestamp")
    entry = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    early = entry.filter(F.col("t0") < cut).select("user_id")
    src = str(tmp_path / "bsrc")
    # write the LATE cohort first so the day-1 cohort arrives as batch 2
    ev.join(early, "user_id", "left_anti").coalesce(1).write.parquet(src)
    ev.join(early, "user_id", "left_semi").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_sprt_monitor(stream, out, ckpt)
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.processAllAvailable()
    q.stop()


def test_replay_reads_only_prior_partitions(spark, sf_dir, tmp_path):
    """Re-emitting batch 1 after its own (possibly partial) output exists
    must compute the SAME offsets — _prior_state filters batch_id < N, so
    the monitor's own partition never feeds its state."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    out = str(tmp_path / "rout")
    from bifrost_spark.streaming._sink import write_batch_partition

    half = ev.filter(F.col("user_id") % 2 == 0)
    write_batch_partition(batch_sprt_update(half, 0, 0), 0, out)
    n0, c0, _ = _prior_state(spark, out, 1)
    write_batch_partition(
        batch_sprt_update(ev.join(half.select("user_id").distinct(),
                                  "user_id", "left_anti"), n0, c0),
        1,
        out,
    )
    once = _rows(spark.read.parquet(out))
    # replay batch 1: offsets must ignore batch 1's own partition
    n0b, c0b, _ = _prior_state(spark, out, 1)
    assert (n0b, c0b) == (n0, c0)
    write_batch_partition(
        batch_sprt_update(ev.join(half.select("user_id").distinct(),
                                  "user_id", "left_anti"), n0b, c0b),
        1,
        out,
    )
    assert _rows(spark.read.parquet(out)) == once
    # and the totals the NEXT batch would see cover both batches exactly
    n2, c2, _ = _prior_state(spark, out, 2)
    total = ev.groupBy("user_id").count().count()
    b_users = [
        r[0]
        for r in ev.groupBy("user_id")
        .agg(F.first(F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2).alias("p"))
        .filter(F.col("p") == 1)
        .collect()
    ]
    assert n2 == len(b_users)
