#!/usr/bin/env python
"""Full-surface timing sweep: time EVERY registered query at a given SF
(default sf0.1) through bench.py's ``warm`` and ``time_ids`` loop, and
print a sorted JSON report.  The headline bench (bench.py) tracks 82
curated shapes (``HEADLINE``) per round; this sweep is the audit tool that
finds slow outliers in the other registered queries before they matter at
scale.

Usage: python tools/sweep_timing.py [--sf-dir DIR] [--runs N] [--only a,b]
                                    [--plans DIR]

``queries`` holds each id's exec seconds and ``builds`` its build seconds,
both from the id's fastest run; ``per_id`` adds that run's job counts and
shuffle/spill bytes.  ``--plans DIR`` also writes each query's
``explain("formatted")`` to ``DIR/<name>.txt``, from one more build after
the timed runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_ids, warm
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
    warm(spark)
    timed = time_ids(spark, names, args.sf_dir, args.runs)
    for name in names if args.plans else ():
        df = qs[name](spark, args.sf_dir)
        with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    # ranked by the value each map DISPLAYS (a combined ranking over
    # exec-only values hid slow-build queries behind small numbers)
    timings = {n: t["exec_s"] for n, t in timed.items()}
    builds = {n: t["build_s"] for n, t in timed.items()}
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "total": round(sum(timings.values()), 3),
        "total_build": round(sum(builds.values()), 3),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
        "builds": dict(sorted(builds.items(), key=lambda kv: -kv[1])),
        "per_id": timed,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
