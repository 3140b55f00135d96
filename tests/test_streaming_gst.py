"""Gates for the streaming group-sequential monitor
(streaming/gst_monitor.py): exact decision-table parity with
q_group_sequential when all enrollments arrive in one micro-batch,
EXACT (integer-carry) continuation across entry-day-ordered batches,
replay idempotence of the state read (only the newest partition
below N), and backfill rejection — the same four gates as the SPRT/CUSUM/Page-Hinkley
twins.

The fixture corpus enrolls every user on day 1 (a single entry day
cannot exercise multi-batch entry ordering), so these gates run on a
CRAFTED staggered-enrollment corpus written through the fuzz harness's
fixture writer: 12 users entering on days 0..11 (two looks' worth),
every third user converted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming.gst_monitor import (
    _prior_state,
    batch_gst_update,
    start_gst_monitor,
)
from test_fuzz_oracle import _write_fixture_dir

_OUT_COLS = [
    "look",
    "n_a",
    "conv_a",
    "n_b",
    "conv_b",
    "z",
    "obf_bound",
    "pocock_bound",
    "reject_obf",
    "reject_pocock",
]


def _rows(df):
    return {tuple(r[c] for c in _OUT_COLS) for r in df.select(*_OUT_COLS).collect()}


def _staggered_events():
    events = []
    for u in range(12):
        base_s = u * 86400  # user u enrolls on day u
        events.append((u, "view", base_s, 100))
        events.append((u, "view", base_s + 7200, 150))
        if u % 3 == 0:  # converted: 2 purchases vs 4 events -> 8 > 4
            events.append((u, "purchase", base_s + 3600, 200))
            events.append((u, "purchase", base_s + 9600, 250))
    return events


@pytest.fixture(scope="module")
def gst_dir(tmp_path_factory) -> str:
    return _write_fixture_dir(
        str(tmp_path_factory.mktemp("gstfix")), _staggered_events()
    )


def _events_df(spark, gst_dir):
    from bifrost_spark.tables import load_table

    return load_table(spark, gst_dir, "events")


def _split(spark, gst_dir):
    """Users entering on days 0..5 (look 1) vs days 6..11 (look 2) —
    user-complete, strictly increasing entry days across the batches."""
    ev = _events_df(spark, gst_dir)
    early = ev.filter(F.col("user_id") < 6)
    late = ev.filter(F.col("user_id") >= 6)
    return early, late


def test_single_batch_matches_batch_twin_exactly(spark, gst_dir, tmp_path):
    ev = _events_df(spark, gst_dir)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_gst_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    batch_rows = _rows(registry.queries()["q_group_sequential"](spark, gst_dir))
    assert _rows(spark.read.parquet(out)) == batch_rows
    # non-vacuous: both looks enrolled, both arms present somewhere
    assert len(batch_rows) == 5
    assert any(r[1] + r[3] > 0 for r in batch_rows)


def test_multi_batch_state_continues_exactly(spark, gst_dir, tmp_path):
    """Entry cohorts split at day 6 across two files: the LAST batch's
    decision table must equal the single-shot batch query EXACTLY —
    integer counts recover the cumulative cells with no
    tolerance."""
    import time

    early, late = _split(spark, gst_dir)
    src = str(tmp_path / "msrc")
    early.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes keep file-arrival order
    late.coalesce(1).write.mode("append").parquet(src)
    out, ckpt = str(tmp_path / "mout"), str(tmp_path / "mckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_gst_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    emitted = spark.read.parquet(out)
    batch_ids = sorted(
        r["batch_id"] for r in emitted.select("batch_id").distinct().collect()
    )
    assert len(batch_ids) == 2
    last = emitted.filter(F.col("batch_id") == batch_ids[-1])
    assert _rows(last) == _rows(
        registry.queries()["q_group_sequential"](spark, gst_dir)
    )
    # the anchor day never moves after batch 0
    anchors = {r["anchor_day"] for r in emitted.select("anchor_day").collect()}
    assert len(anchors) == 1


def test_replay_reads_only_prior_partitions(spark, gst_dir, tmp_path):
    from bifrost_spark.streaming._sink import write_batch_partition

    early, late = _split(spark, gst_dir)
    out = str(tmp_path / "rout")
    upd0, _, _ = batch_gst_update(early, [], None)
    write_batch_partition(upd0, 0, out)
    cells1, anchor1, em1 = _prior_state(spark, out, 1)
    assert cells1 and anchor1 is not None
    upd1, _, _ = batch_gst_update(late, cells1, anchor1)
    write_batch_partition(upd1, 1, out)
    once = _rows(spark.read.parquet(out).filter(F.col("batch_id") == 1))
    # replay batch 1: its own partition must not feed its state
    cells1b, anchor1b, em1b = _prior_state(spark, out, 1)
    assert (sorted(cells1b), anchor1b, em1b) == (sorted(cells1), anchor1, em1)
    upd1b, _, _ = batch_gst_update(late, cells1b, anchor1b)
    write_batch_partition(upd1b, 1, out)
    assert _rows(spark.read.parquet(out).filter(F.col("batch_id") == 1)) == once


def test_backfill_batch_is_rejected(spark, gst_dir, tmp_path):
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    early, late = _split(spark, gst_dir)
    src = str(tmp_path / "bsrc")
    # LATE cohort first, so the earlier cohort arrives as batch 2
    late.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    early.coalesce(1).write.mode("append").parquet(src)
    out, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_gst_monitor(stream, out, ckpt)
    with pytest.raises(StreamingQueryException, match="backfill"):
        q.processAllAvailable()
    q.stop()
