#!/usr/bin/env python
"""Benchmark runner (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
"per_id": {...}}``.

A query's time is its plan build plus its execution, consumed through the
noop sink (guide §1.4) so every column of every row materializes without a
driver collect.  The faster of two runs counts, so the number tracks the
operator rather than one-time plan compilation or Python-runner start.
``per_id`` splits that one run: ``build_s`` (the query function, with any
Spark job it runs while building) and ``exec_s`` (the noop write), the
jobs each part ran (``jobs_build``, ``jobs_exec``), and the run's
``shuffle_write_bytes`` and ``spill_bytes``.

``warm`` and ``time_ids`` are the repo's one warm-up-then-time loop:
``tools/sweep_timing.py`` and ``tools/scale_audit.py`` call them too.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bifrost_spark import registry
from bifrost_spark.session import get_spark
from perfbench.tracing import JobCounter, Tracer

# Headline set: the flagship aggregate, a big join, windows, sort/limit,
# dedup + similarity representatives — the operators whose plans matter at
# 100 TB.  (Every other registered query is covered by the driver's
# correctness gate; bench tracks throughput-critical shapes.)
HEADLINE = [
    "q_agg_hash",
    "q_join_inner",
    "q_join_multiway",
    "q_agg_distinct",
    "q_window_rank",
    "q_window_running",
    "q_sort_limit",
    "q_tumbling_window",
    "q_session_window",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_text_stats",
    "q_token_count",
    "q_sim_topk",
    "q_offset_bounds",
    "q_join_asof",
    "q_join_range",
    "q_dedup_embedding",
    "q_pivot",
    "q_grouping_sets",
    "q_composite_report",
    "q_subquery_exists",
    "q_sliding_window",
    "q_funnel",
    "q_cohort_retention",
    "q_scd2",
    "q_merge_upsert",
    "q_tfidf",
    "q_chunking",
    "q_bloom_prune",
    "q_pipeline_e2e",
    "q_stratified_sample",
    # TPC-H heavies: the join/agg/quantifier shapes that dominate at scale
    "q_tpch02",
    "q_tpch05",
    "q_tpch08",
    "q_tpch18",
    "q_tpch21",
    # corpus-cleaning additions
    "q_dup_spans",
    "q_ccnet_bucket",
    "q_domain_cap",
    # round-3 additions: crawl-level dedup, retrieval scoring, data selection
    "q_url_dedup",
    "q_dedup_paragraph",
    "q_bm25",
    "q_dsir_weights",
    "q_dedup_incremental",
    # round-4 additions: drift monitoring, attribution, compaction
    # planning, exact similarity join, collocations, hybrid retrieval
    "q_ks_drift",
    "q_attribution",
    "q_compaction_plan",
    "q_jaccard_ppjoin",
    "q_collocations",
    "q_qlm",
    # round-6 additions: second-stage rerank, incremental fuzzy dedup,
    # contamination reporting, directed containment, bootstrap CI
    "q_rerank_cross",
    "q_dedup_incremental_minhash",
    "q_contamination_report",
    "q_containment",
    "q_bootstrap_ci",
    # round-7 additions: the two sweep heavies the r6 verdict promoted so
    # the driver bench tracks them round-over-round (q_fuzzy_join also
    # carries this round's composite-blocking rewrite), plus the round-7
    # operator family
    "q_fuzzy_join",
    "q_knn_eval",
    "q_dup_flow_matrix",
    "q_rerank_mmr",
    "q_centroid_drift",
    "q_quantile_sketch_rollup",
    # eval_stats representatives: the distinct-value-frame rank device and
    # the |vocab|-frame chi-square fold (the family's two heaviest shapes)
    "q_mann_whitney",
    "q_chi2_keywords",
    # round-8 representatives: the two gram-heavy dedup/contamination
    # shapes, the sketch-summary KS monitor, and the two heaviest
    # statistics shapes (distinct-value-frame ranks; the median-dependent
    # two-scan deviation fold)
    "q_dup_span_ladder",
    "q_contamination_drift",
    "q_sketch_drift",
    "q_kruskal_wallis",
    "q_brown_forsythe",
    # round-9 entries over the 0.3 s headline floor (sweep, sf0.1)
    "q_ngram_novelty",
    "q_group_sequential",
    "q_mood_median",
    "q_cramer_von_mises",
    "q_anderson_darling",
    "q_bpe_merges",
    "q_permutation_test",
    # round-10 entries over the 0.3 s headline floor (sweep, sf0.1), plus
    # the BPE trainer whose cost is its driver-side iteration loop
    "q_dup_span_exact",
    "q_logrank_test",
    "q_kaplan_meier",
    "q_heaps_fit",
    "q_bpe_train",
    "q_rmst",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(spark) -> None:
    """Warm the JVM codegen path and the Arrow/Python-worker path once on
    the smallest fixture, through the noop sink the timed region uses, so
    the first timed id pays for no class loading or worker spin-up
    (workers are reused: spark.python.worker.reuse)."""
    qs = registry.queries()
    for name in ("q_agg_hash", "q_dedup_embedding"):
        _noop(qs[name](spark, "/root/testdata/sf0.001"))


def time_ids(spark, ids, sf_dir: str, runs: int) -> dict[str, dict]:
    """Run each id ``runs`` times and keep the run with the smallest build
    + exec, so both parts come from one run that happened.  Run r's jobs
    are in job groups ``<id>:<r>:build`` and ``<id>:<r>:exec``; the kept
    run's are read back from Spark's status store after the clock stops.
    Returns per id ``build_s``, ``exec_s``, ``jobs_build``, ``jobs_exec``,
    ``shuffle_write_bytes`` and ``spill_bytes``."""
    qs = registry.queries()
    jobs = JobCounter(spark, Tracer())
    out: dict[str, dict] = {}
    for name in ids:
        timings = []
        for run in range(runs):
            jobs.set_group(f"{name}:{run}:build")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            build = time.perf_counter() - t0
            jobs.set_group(f"{name}:{run}:exec")
            t0 = time.perf_counter()
            _noop(df)
            exe = time.perf_counter() - t0
            timings.append((build + exe, build, exe, run))
        jobs.set_group(None)
        jobs.drain_events()
        _, build, exe, run = min(timings)
        b, x = (jobs.group_stats(f"{name}:{run}:{part}") for part in ("build", "exec"))
        out[name] = {
            "build_s": round(build, 3),
            "exec_s": round(exe, 3),
            "jobs_build": b["jobs"],
            "jobs_exec": x["jobs"],
            "shuffle_write_bytes": b["shuffle_write_bytes"] + x["shuffle_write_bytes"],
            "spill_bytes": b["spill_bytes"] + x["spill_bytes"],
        }
        print(f"{build:8.3f}b {exe:8.3f}x  {name}", file=sys.stderr, flush=True)
    return out


def report(timed: dict[str, dict], sf_dir: str) -> dict:
    """The driver's JSON: ``value`` is the sum of ``queries``, each id's
    ``build_s + exec_s``; ``per_id`` is ``time_ids``'s split."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    queries = {n: round(t["build_s"] + t["exec_s"], 3) for n, t in timed.items()}
    return {
        "metric": "headline_queries_total_time",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "per_id": timed,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bifrost-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    print(json.dumps(report(time_ids(spark, HEADLINE, sf_dir, runs=2), sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
