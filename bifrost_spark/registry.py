"""Query registry — the single source of truth behind __spark_entry__.py.

Every operator the engine claims (SURVEY.md §2) registers here with:
  * a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
  * optionally a DuckDB oracle SQL string (ANSI, over the pre-registered
    fixture views) — omitted only for genuinely non-SQL-expressible ops
    (randomized LSH, streaming), which the driver checks rows-only.

The decorator wraps each query so the externally-provided session gets the
deterministic-comparison confs (UTC tz, AQE) before the plan is built.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bifrost_spark.session import tune_for_oracle

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# The external correctness gate samples the FIRST 50 entries of ``queries()``
# in iteration order, so ordering is part of the driver contract.  Queries
# named here are yielded first (in this order); everything else follows in
# registration order.  Round 8 window (VERDICT r7 item 1): the 31 ids whose
# standing rows date from round 3 — the TPC-H tail q_tpch02..q_tpch21,
# q_join_skew_salted / q_triangle_count / q_lm_score / q_gap_fill /
# q_percentile_cont, and the round-3 rows-only sketch ids — oracle ids
# before rows-only, then any NEW round-8 ids (each new id lands in its own
# round's window), then the stalest round-4 standing rows to fill 50.
# ROUND-9 WINDOW (VERDICT r8 item 1): the round-4 cohort — the 45 ids
# whose standing driver rows date from round 4 (the relational core,
# q_tpch22, the dsir ids, the web-dedup family, …) — PLUS every new
# round-9 id (a new id must land in its own round's window).  With 14
# round-9 additions only 36 of the 45 round-4 ids fit; the 9 deferred to
# round 10 are the tail below the oracle core: q_zscore, q_feature_hash,
# q_profile, q_zorder, q_percent_of_total, q_lateral_topn, q_copurchase,
# q_dsir_weights_hires, and rows-only q_sim_ann_opq.
# ROUND-10 WINDOW (VERDICT r9 item 1): the 9 deferred round-4 ids
# FIRST, then all 14 new round-10 ids, then the 27 stalest round-5 rows
# (CORRECTNESS_r05 order) to fill 50.
# The round-10 window is the current one: CHECK_PRIORITY below holds it, and
# tests/test_registry_window.py pins it.
CHECK_PRIORITY: tuple[str, ...] = (
    # 9 round-4 ids deferred from the round-9 window (the pre-written plan)
    "q_zscore",
    "q_feature_hash",
    "q_profile",
    "q_zorder",
    "q_percent_of_total",
    "q_lateral_topn",
    "q_copurchase",
    "q_dsir_weights_hires",
    "q_sim_ann_opq",
    # NEW round-10 operators (each new id lands in its own round's
    # window): the survival family, the experiment-design extensions,
    # the tokenizer-training/corpus ops, and the calibration/sharding ops
    "q_kaplan_meier",
    "q_nelson_aalen",
    "q_logrank_test",
    "q_tukey_hsd",
    "q_poisson_rate",
    "q_breslow_day",
    "q_bpe_train",
    "q_heaps_fit",
    "q_dup_span_exact",
    "q_brier_decomp",
    "q_lift_gains",
    "q_rendezvous_shard",
    "q_rmst",
    "q_cochran_armitage",
    # stalest round-5 standing rows (CORRECTNESS_r05 order) to fill 50;
    # the remaining 21 round-5 ids (q_pivot .. q_cond_agg cohort), then
    # the round-6 cohort, are the backlog for the next window
    "q_ks_drift",
    "q_psi_drift",
    "q_attribution",
    "q_mode_per_group",
    "q_compaction_plan",
    "q_pareto_frontier",
    "q_markov_transitions",
    "q_benford",
    "q_seasonal_baseline",
    "q_behavior_entropy",
    "q_split_balance",
    "q_top_anomalies",
    "q_collocations",
    "q_qlm",
    "q_rrf_fusion",
    "q_tokenizer_fertility",
    "q_vocab_growth",
    "q_dup_fraction",
    "q_jaccard_ppjoin",
    "q_autocorr",
    "q_heavy_hitters_exact",
    "q_negative_sampling",
    "q_temporal_split",
    "q_skew_report",
    "q_classifier_report",
    "q_multimodal_patches",
    "q_embedding_pca",
)


def _ordered() -> list[str]:
    _ensure_loaded()
    prioritized = [n for n in CHECK_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in CHECK_PRIORITY]
    return prioritized + rest


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an engine query.  ``oracle=None`` → rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_oracle(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=wrapped, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return wrapped

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _ordered()}


def oracles() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered()
        if REGISTRY[name].oracle is not None
    }


def _ensure_loaded() -> None:
    # Import side-effect registers every query module exactly once.
    import bifrost_spark.queries  # noqa: F401
