#!/usr/bin/env python
"""Full-surface timing sweep: time EVERY registered query at a given SF
(default sf0.1) with the same noop-sink protocol as bench.py, and print a
sorted JSON report.  The headline bench (bench.py) tracks 82 curated
shapes (``HEADLINE``) per round; this sweep is the audit tool that finds
slow outliers in the other registered queries before they matter at scale.

Usage: python tools/sweep_timing.py [--sf-dir DIR] [--runs N] [--only a,b]
                                    [--plans DIR]

``--plans DIR`` also writes each query's ``explain("formatted")`` to
``DIR/<name>.txt`` (taken from the first run's frame, outside the timers).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bifrost_spark import registry
from bifrost_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--only", default="")
    ap.add_argument("--plans", default=None, help="directory for <name>.txt explains")
    args = ap.parse_args()
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    spark = get_spark("bifrost-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = [n for n in args.only.split(",") if n] or list(qs)

    # Warm JVM codegen + Arrow worker paths once, on the sf0.001 tables
    # beside --sf-dir, through the noop sink the timed region uses (same
    # as bench.py), so the first timed id does not pay for loading the
    # noop writer's classes.
    warm_dir = os.path.join(os.path.dirname(os.path.abspath(args.sf_dir)), "sf0.001")
    for warm in ("q_agg_hash", "q_dedup_embedding"):
        qs[warm](spark, warm_dir).write.format("noop").mode("overwrite").save()

    # build = query-construction wall (plan assembly + any driver-side
    # fits/collects, e.g. k-means training or eager checkpoints) — costs
    # the noop-sink exec timer never sees but every real caller pays.
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    for name in names:
        best = best_b = float("inf")
        for run in range(args.runs):
            tb = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            best_b = min(best_b, t0 - tb)
            if args.plans and run == 0:
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        timings[name] = round(best, 3)
        builds[name] = round(best_b, 3)
        print(f"{builds[name]:8.3f}b {timings[name]:8.3f}x  {name}", file=sys.stderr)

    # ranked by the value each map DISPLAYS (a combined ranking over
    # exec-only values hid slow-build queries behind small numbers)
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "total": round(sum(timings.values()), 3),
        "total_build": round(sum(builds.values()), 3),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "builds": dict(sorted(builds.items(), key=lambda kv: -kv[1])),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
