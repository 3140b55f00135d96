#!/usr/bin/env python
"""Diff two full-surface sweep artifacts (tools/sweep_timing.py output).

Prints per-query exec/build deltas above a threshold, plus totals and
add/drop lists: the per-round regression triage for the registered
queries the headline bench never times.  Wall times drift between runs on
a shared host, so read RELATIVE outliers against the run's median drift,
not absolute seconds.  The sweep keys it reads, ``sf_dir``, ``total``,
``total_build``, ``queries`` and ``builds``, are unchanged by the sweep's
move onto bench.py's loop, so older sweep artifacts still diff.

Usage: python tools/sweep_diff.py OLD.json NEW.json [--min-delta 0.3]
"""

from __future__ import annotations

import argparse
import json
import statistics


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--min-delta", type=float, default=0.3)
    args = ap.parse_args()

    a = json.load(open(args.old))
    b = json.load(open(args.new))
    qa, qb = a["queries"], b["queries"]
    shared = sorted(set(qa) & set(qb))
    ratios = [qb[n] / qa[n] for n in shared if qa[n] > 0.05]
    med = statistics.median(ratios) if ratios else 1.0

    print(
        f"totals: exec {a['total']} -> {b['total']}, "
        f"build {a['total_build']} -> {b['total_build']}; "
        f"median shared-query drift x{med:.2f} "
        f"({len(shared)} shared, +{len(set(qb)-set(qa))} new, "
        f"-{len(set(qa)-set(qb))} removed)"
    )
    rows = []
    for n in shared:
        # drift-adjusted delta: what the query moved BEYOND the run's
        # median environmental drift
        adj = qb[n] - qa[n] * med
        if abs(adj) >= args.min_delta:
            rows.append((adj, n, qa[n], qb[n]))
    for adj, n, old, new in sorted(rows, key=lambda r: -r[0]):
        print(f"{n:32s} {old:8.3f} -> {new:8.3f}  drift-adjusted {adj:+.3f}")
    if not rows:
        print(f"no shared query moved more than {args.min_delta}s beyond drift")
    added = sorted(set(qb) - set(qa), key=lambda n: -qb[n])
    for n in added:
        print(f"NEW {n:28s} {qb[n]:8.3f}")


if __name__ == "__main__":
    main()
