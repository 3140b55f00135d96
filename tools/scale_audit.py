#!/usr/bin/env python
"""Empirical scaling-curve audit (SCALE.md claims → measurements).

Synthesizes 2× and 5× clones of the sf0.1 fixture in /tmp/scale/x{1,2,5}
(documents/events grow by key-shifted, token-perturbed unions; the other
tables are copied unscaled) and times the heaviest queries at each size
through bench.py's ``warm`` and ``time_ids`` loop (fastest of N runs).
The read-only /root/testdata is never touched.

Clone discipline:
* doc_id/event_id/user_id shift by size·i so keys stay unique;
* each document clone appends a clone-unique token, so clones are not
  exact duplicates of each other and the dedup families' pair volume
  scales with true within-corpus duplication (×k), not with the k²
  cross-clone pairing an identical copy would fabricate;
* clone 0 is byte-identical to sf0.1, so x1 numbers are comparable to
  the bench.

Usage: python tools/scale_audit.py [--runs 3] [--out /tmp/scale]
Prints a table: query × {x1, x2, x5} seconds.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
FACTORS = (1, 2, 5)
QUERIES = [
    "q_agg_hash",            # lineitem baseline (unscaled input — flat curve expected)
    "q_bootstrap_ci",        # events ×k, 32-replicate fold
    "q_dup_spans",           # documents ×k, gram hash + semi join
    "q_dup_span_ladder",     # documents ×k, 4-level ladder
    "q_dup_span_exact",      # documents ×k, anchor join Σcnt² watch item
    "q_jaccard_ppjoin",      # documents ×k, prefix-filter join Σcnt² watch item
    "q_containment",         # documents ×k, df-capped self join
    "q_dup_flow_matrix",     # documents ×k, same + rollup
    "q_contamination_report",  # documents ×k, char-gram broadcast semi join
    "q_ccnet_bucket",        # documents ×k, token explode + window
]


def synthesize(out_root: str) -> None:
    import duckdb

    for k in FACTORS:
        d = os.path.join(out_root, f"x{k}")
        os.makedirs(d, exist_ok=True)
        for t in ("customer", "embeddings", "lineitem", "nation", "orders",
                  "part", "region", "supplier"):
            dst = os.path.join(d, f"{t}.parquet")
            if not os.path.exists(dst):
                shutil.copy(os.path.join(SRC, f"{t}.parquet"), dst)
        con = duckdb.connect()
        docs = os.path.join(d, "documents.parquet")
        if not os.path.exists(docs):
            parts = []
            for i in range(k):
                text = "text" if i == 0 else f"text || ' clone{i}tok'"
                nch = "n_chars" if i == 0 else f"length({text})"
                parts.append(
                    f"SELECT doc_id + {10_000 * i} AS doc_id, {text} AS text,"
                    f" lang, source, {nch} AS n_chars"
                    f" FROM read_parquet('{SRC}/documents.parquet')"
                )
            con.execute(
                f"COPY ({' UNION ALL '.join(parts)}) TO '{docs}'"
                " (FORMAT PARQUET, COMPRESSION ZSTD)"
            )
        ev = os.path.join(d, "events.parquet")
        if not os.path.exists(ev):
            parts = []
            for i in range(k):
                parts.append(
                    f"SELECT event_id + {1_000_000 * i} AS event_id, ts,"
                    f" user_id + {1_000_000 * i} AS user_id,"
                    f" event_type, value, props"
                    f" FROM read_parquet('{SRC}/events.parquet')"
                )
            con.execute(
                f"COPY ({' UNION ALL '.join(parts)}) TO '{ev}'"
                " (FORMAT PARQUET, COMPRESSION ZSTD)"
            )
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="/tmp/scale")
    args = ap.parse_args()
    synthesize(args.out)

    from bench import time_ids, warm
    from bifrost_spark.session import get_spark

    spark = get_spark("bifrost-scale-audit")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    results: dict[str, dict[int, float]] = {name: {} for name in QUERIES}
    for k in FACTORS:
        timed = time_ids(spark, QUERIES, os.path.join(args.out, f"x{k}"), args.runs)
        for name, t in timed.items():
            results[name][k] = round(t["build_s"] + t["exec_s"], 3)

    print(f"\n{'query':26s}" + "".join(f"{'x' + str(k):>9s}" for k in FACTORS)
          + "   x5/x1")
    for name, r in results.items():
        ratio = r[5] / r[1] if r[1] else float("nan")
        print(f"{name:26s}" + "".join(f"{r[k]:9.3f}" for k in FACTORS)
              + f"  {ratio:6.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
