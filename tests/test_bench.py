"""bench.py's warm-up-then-time loop, the one the sweep and the scale
audit also run: both parts of an id's time come from one run, and every
job of that run is tagged with the id."""

from __future__ import annotations

import pytest

import bench


def test_time_ids_reports_one_run_split_and_tags_jobs(spark, sf_dir):
    timed = bench.time_ids(spark, ["q_agg_hash"], sf_dir, runs=2)
    out = bench.report(timed, sf_dir)
    t = timed["q_agg_hash"]

    assert set(t) == {
        "build_s", "exec_s", "jobs_build", "jobs_exec", "shuffle_write_bytes", "spill_bytes"
    }
    assert t["build_s"] + t["exec_s"] == pytest.approx(out["queries"]["q_agg_hash"], abs=1e-9)
    assert t["jobs_exec"] >= 1
    tracker = spark.sparkContext.statusTracker()
    for run in range(2):
        assert tracker.getJobIdsForGroup(f"q_agg_hash:{run}:exec")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None

    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert (out["metric"], out["unit"]) == ("headline_queries_total_time", "sec")
    assert isinstance(out["value"], float) and isinstance(out["sf"], float)
    assert out["per_id"] == timed
