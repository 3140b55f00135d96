"""Gates for the output-carried state read of the four cumulative
monitors (sprt_monitor, cusum_monitor, page_hinkley, gst_monitor): each
``_prior_state`` takes its state from the newest partition below N
alone (``_sink.newest_prior_partition``), a never-written output is the
first batch's zero state, and an existing but unreadable output raises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bifrost_spark.streaming import (
    cusum_monitor,
    gst_monitor,
    page_hinkley,
    sprt_monitor,
)
from bifrost_spark.streaming._sink import write_batch_partition
from bifrost_spark.tables import load_table
from test_streaming_cusum import _split_days
from test_streaming_gst import _split, gst_dir  # noqa: F401 (fixture)
from test_streaming_page_hinkley import _day_split

MONITORS = {
    "sprt": (sprt_monitor, (0, 0, None)),
    "cusum": (cusum_monitor, (0.0, 0.0, None)),
    "page_hinkley": (page_hinkley, (0, None, None, None, None)),
    "gst": (gst_monitor, ([], None, None)),
}


def _two_batches(name, spark, request):
    """Two user-complete, day-ordered raw event batches for one monitor
    and its ``update(batch, prior_state)`` frame builder."""
    if name == "gst":
        update = lambda b, s: gst_monitor.batch_gst_update(b, s[0], s[1])[0]
        return _split(spark, request.getfixturevalue("gst_dir")), update
    sf_dir = request.getfixturevalue("sf_dir")
    if name == "sprt":
        ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
        even = F.col("user_id") % 2 == 0
        update = lambda b, s: sprt_monitor.batch_sprt_update(b, s[0], s[1])
        return (ev.filter(even), ev.filter(~even)), update
    if name == "cusum":
        base, ev, days = _split_days(spark, sf_dir)
        mid = days[len(days) // 2]
        mu0, s0 = cusum_monitor.fit_cusum_baseline(base)
        update = lambda b, s: cusum_monitor.batch_cusum_update(b, mu0, s0, s[0], s[1])
    else:
        ev, mid = _day_split(spark, sf_dir)
        update = lambda b, s: page_hinkley.batch_ph_update(b, *s[:4])
    day = F.date_trunc("day", "ts")
    return (ev.filter(day < F.lit(mid)), ev.filter(day >= F.lit(mid))), update


def _norm(state):
    return tuple(sorted(x) if isinstance(x, list) else x for x in state)


@pytest.mark.parametrize("name", MONITORS)
def test_prior_state_reads_only_the_newest_partition(spark, request, tmp_path, name):
    """Batch 2's state comes from batch 1's partition alone: with batch
    0's part files overwritten by garbage, it is unchanged."""
    mod, zero = MONITORS[name]
    batches, update = _two_batches(name, spark, request)
    out = tmp_path / "out"
    for k, batch in enumerate(batches):
        write_batch_partition(update(batch, mod._prior_state(spark, str(out), k)), k, str(out))
    before = _norm(mod._prior_state(spark, str(out), 2))
    assert before != _norm(zero)
    parts = list((out / "batch_id=0").glob("part-*"))
    assert parts
    for p in parts:
        p.write_bytes(b"this is not parquet")
    assert _norm(mod._prior_state(spark, str(out), 2)) == before


@pytest.mark.parametrize("name", MONITORS)
def test_missing_output_is_first_batch_but_corrupt_output_raises(spark, tmp_path, name):
    """ADVICE r8: ONLY the missing-path case may reset the walk to its
    zero state.  An existing but unreadable output (a stray non-partition
    file at the root, or a corrupt newest partition) must propagate,
    never silently restart the walk from zero."""
    mod, zero = MONITORS[name]
    assert mod._prior_state(spark, str(tmp_path / "never_written"), 5) == zero
    for bad in (tmp_path / "stray", tmp_path / "corrupt" / "batch_id=4"):
        bad.mkdir(parents=True)
        (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    for root in ("stray", "corrupt"):
        with pytest.raises(Exception):
            mod._prior_state(spark, str(tmp_path / root), 5)
