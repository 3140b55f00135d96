#!/usr/bin/env python3
"""Run the benchmark, untraced, once per seed on every workload of
BENCHMARK.json and summarise every end-to-end metric as its median,
quartiles and spread (interquartile distance over the median, from
``statistics.quantiles(values, n=4)``), plus the median over the runs of
last-over-first timed pass time (below 1 while passes still speed up).
Run from the root of a checkout:

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/set-a.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    summary: dict = {"seeds": args.seeds, "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in _seeds(args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, timeout=200,
            )
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            detail = json.loads(lines[-2]) if result and len(lines) > 1 else None
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": time.perf_counter() - t,
                         "result": result, "detail": detail})
            print(wl, seed, proc.returncode, round(time.perf_counter() - t, 1),
                  json.dumps(result["metrics"] if result else proc.stderr[-500:]), flush=True)
        metrics = {}
        names = {m for r in runs if r["result"] for m in r["result"]["metrics"]}
        for m in sorted(names):
            vals = [r["result"]["metrics"][m]["value"] for r in runs if r["result"]]
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            metrics[m] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None, "values": vals}
        passes = [r["detail"]["pass_s"] for r in runs if r["detail"]]
        summary["workloads"][wl] = {
            "metrics": metrics,
            "last_over_first_pass": statistics.median(p[-1] / p[0] for p in passes) if passes else None,
            "failed_runs": sum(1 for r in runs if not r["result"] or not r["result"]["correct"]),
            "run_wall_s": [r["wall_s"] for r in runs],
            "runs": runs,
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
    for wl, s in summary["workloads"].items():
        for m, v in s["metrics"].items():
            print(f"{wl:15s} {m:45s} median={v['median']:.4g} spread={v['spread']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
