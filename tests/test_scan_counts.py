"""Recompute-audit regression pins.  AQE reuses an exchange whose whole
subtree is identical (it shows as ReusedExchange in the final plan), but
neither Catalyst nor AQE shares subtrees that differ above the exchange:
a frame consumed by two plan branches through different projections,
filters or joins is recomputed per branch (measured round 3: q_tpch11
scanned lineitem twice, q_tpch18 three times, q_triangle_count ran 18
parquet scans, PageRank re-derived its transition graph every
iteration).  The fixes checkpoint the small multiply-consumed frames, or
feed both branches from one identical exchange (q_copurchase's self-join
reads one spread exchange twice); this test pins the parquet-scan count
of each fixed query's EXECUTED plan — the final adaptive plan, read after
an action on the query's own QueryExecution — so a refactor can't
silently reintroduce the fan-out.

Ceilings are exact current counts (sf-independent — plan shape, not
data).  A lower count is fine; higher fails."""

from __future__ import annotations

import pytest

from bifrost_spark import registry

# query -> max "Scan parquet" occurrences in the executed (post-AQE) plan.
# Checkpointed inputs surface as Scan ExistingRDD, so these counts are the
# per-action fact-table scans the cluster would actually run.
SCAN_CEILINGS = {
    "q_tpch11": 0,  # val checkpointed; threshold + filter read it
    "q_tpch15": 1,  # revenue checkpointed; supplier scan remains
    "q_tpch18": 3,  # big-keys checkpointed; customer/orders/lineitem probes
    "q_tpch20": 2,  # shipped checkpointed; supplier/nation remain
    "q_funnel": 1,  # view/click frontiers checkpointed; purchase scan remains
    "q_pagerank": 0,  # transition graph + nodes checkpointed before the loop
    "q_triangle_count": 0,  # edges + oriented edges checkpointed
    "q_dsir_weights": 1,  # bucket model collected; one scoring explode
    "q_ccnet_bucket": 2,  # surprisal probe + doc lang join
    "q_lm_score": 1,  # term dictionary checkpointed; one probe explode
    "q_mixture_weights": 0,  # per-source aggregate checkpointed
    # Round-3 operators (measured this round, pinned so the recompute
    # discipline can't silently regress):
    "q_bm25": 1,  # df/avgdl as plan literals; one tf explode
    "q_lm_bigram": 1,  # checkpointed bigram model; one scoring pass
    "q_quality_classifier": 1,  # driver-fit weights fold back as literals
    "q_snapshot_diff": 2,  # the two snapshots being diffed
    "q_embedding_pca": 1,  # Gramian collected; one projection pass
    "q_url_dedup": 1,  # pure expression chain + one keep-first window
    "q_dedup_paragraph": 1,  # scan-local paragraphs, window + reassembly
    "q_dedup_incremental": 2,  # new batch + existing-corpus hash sides
    "q_hard_negatives": 2,  # broadcast query side + corpus side
    "q_sim_ann_opq": 3,  # sample fit + pretransform + probe
    "q_dsir_resample": 1,  # weights frame reused via its single explode
    "q_join_asof_tol": 2,  # left + right as-of inputs
    "q_rolling_median": 1,  # one events scan through the bounded frame
    "q_time_weighted_avg": 1,  # single-Exchange window plan
    "q_dsir_weights_hires": 1,  # same plan as q_dsir_weights at 1024 buckets
    # Round-4 pipeline-ops family:
    "q_ks_drift": 0,  # per-value aggregate checkpointed; window+totals reuse it
    "q_psi_drift": 0,  # per-bin aggregate checkpointed
    "q_attribution": 1,  # one window over the type-filtered scan
    "q_mode_per_group": 1,  # count aggregate + rank-1 window
    "q_compaction_plan": 1,  # one manifest scan through the packing window
    "q_dup_spans": 0,  # gram frame checkpointed; dup build + probe reuse it
    "q_dup_fraction": 1,  # checkpointed span pipeline + word-count scan
    "q_pareto_frontier": 1,  # one scan through the skyline window
    "q_markov_transitions": 0,  # |types|² pair frame checkpointed
    "q_benford": 0,  # 9-row digit histogram checkpointed
    "q_collocations": 0,  # unigram + bigram aggregates checkpointed
    "q_heavy_hitters_exact": 0,  # count frame checkpointed; total folds back
    "q_negative_sampling": 3,  # interactions (lineitem+orders) + customer draws
    "q_qlm": 1,  # scan-local tf; cf/total fold back as literals
    "q_rrf_fusion": 2,  # one scan per retrieval leg (BM25 + QLM)
    "q_jaccard_ppjoin": 0,  # canonical-order frame checkpointed; 3 consumers
    "q_temporal_split": 1,  # pushed-down filter, zero shuffle
    "q_tokenizer_fertility": 1,  # scan-local measures + tiny lang groupBy
    "q_autocorr": 1,  # one (type, day) aggregate feeds window + moments
    "q_seasonal_baseline": 1,  # profile checkpointed; one scoring scan
    "q_behavior_entropy": 1,  # one count shuffle + user margin window
    "q_split_balance": 0,  # (label, side) counts checkpointed; spine +
    #   margins reuse them (zero-cell spine fix, round 7)
    "q_classifier_report": 0,  # confusion matrix checkpointed; 3 margins reuse
    "q_skew_report": 1,  # one count shuffle; windows over the key frame
    "q_vocab_growth": 2,  # token-decile + first-occurrence aggregates
    "q_top_anomalies": 1,  # moment profile checkpointed; one scoring scan
    # Batch-parity anchors for the streaming curation flow (curate.py's
    # Gopher gate asserts equality against q_gopher_rules; decontaminate
    # is the batch spelling of its broadcast-anti stage):
    "q_gopher_rules": 1,  # pure expression gate, single documents scan
    "q_decontaminate": 3,  # bench grams + training grams + id-only join back
    # Round-6 curation/eval family:
    "q_rerank_cross": 3,  # one scan per retrieval leg + the shortlist join
    "q_contamination_report": 3,  # bench grams + training grams + source join
    "q_dedup_incremental_minhash": 0,  # one signature pass, checkpointed,
    #   feeds both the probe and index sides
    "q_containment": 0,  # capped shingle frame checkpointed; count + both
    #   self-join sides reuse it
    "q_embedding_outliers": 1,  # centroid table collected + literal
    #   fold-back; one scan-local scoring pass remains
    "q_ndcg_eval": 3,  # BM25 leg (build-time literals) + system-side gain
    #   join + ideal-side TakeOrdered
}


_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_EMPTY_RELATION_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


def executed_scans(df) -> int:
    """Parquet scans in ``df``'s final adaptive plan.  ``count()`` would run
    a different QueryExecution and leave this one's plan at its initial,
    pre-reuse form.  Every adaptive plan in the text — the outer one and
    each subquery's, printed inside its parent's final plan — carries an
    ``== Initial Plan ==`` block after its final plan; each such block
    (the header and every line at or right of its column) is dropped, and
    the scans in all final plans are counted.  AQE's empty-relation rule
    is off for the action: it drops a stage that ran and came back empty
    from the final plan (q_join_full's supplier side at sf0.001), and the
    pins count the scans a query runs."""
    conf = df.sparkSession.conf
    prior = conf.get(_EXCLUDED_RULES, None)
    conf.set(_EXCLUDED_RULES, _EMPTY_RELATION_RULE)
    try:
        df.collect()
    finally:
        if prior is None:
            conf.unset(_EXCLUDED_RULES)
        else:
            conf.set(_EXCLUDED_RULES, prior)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n, initial_col = 0, None
    for line in plan.splitlines():
        node = line.lstrip(" :|+-")
        col = len(line) - len(node)
        if initial_col is not None and col >= initial_col:
            continue
        initial_col = col if node.startswith("== Initial Plan ==") else None
        if initial_col is None:
            n += node.count("Scan parquet")
    return n


@pytest.mark.parametrize("name", sorted(SCAN_CEILINGS))
def test_executed_plan_scan_count(spark, sf_dir, name):
    n = executed_scans(registry.queries()[name](spark, sf_dir))
    assert n <= SCAN_CEILINGS[name], (
        f"{name}: {n} parquet scans in executed plan "
        f"(ceiling {SCAN_CEILINGS[name]}) — a multiply-consumed frame "
        "lost its checkpoint"
    )


# Full-surface pin: measured executed-plan scan counts for every OTHER
# registered query (the curated table above documents the checkpoint-fixed
# and inherently-multi-scan cases; this one freezes the rest).  Multi-scan
# entries here are structural, not recompute bugs: TPC-H counts equal their
# join-table counts (q_tpch08's 8 = its 8 relations), set/intersect sides
# each read their input, q_integrity_check audits 4 tables.  Any query
# whose count RISES above this table lost a shared subtree (branches that differ above
# their exchange are not shared) — checkpoint it or justify it in the
# curated table.
FULL_SURFACE_SCANS = {
    # Round-10 additions (measured executed plans):
    "q_kaplan_meier": 1,  # one events scan through the lifetime frame
    "q_nelson_aalen": 1,
    "q_logrank_test": 1,  # one events scan through the fused per-t aggregate (r11)
    "q_tukey_hsd": 0,  # group moments checkpointed; MSW + pairs reuse
    "q_poisson_rate": 1,  # one (user, day) exposure aggregate
    "q_breslow_day": 0,  # strata checkpointed; psi fold + solve reuse
    "q_bpe_train": 0,  # merges collected in the driver loop; result literal
    "q_heaps_fit": 2,  # the q_vocab_growth curve (token + first-seen sides)
    "q_dup_span_exact": 1,  # anchors checkpointed; one documents scan
    "q_brier_decomp": 0,  # bin frame checkpointed; totals + addends reuse
    "q_lift_gains": 0,  # bin frame checkpointed; totals + walk reuse
    "q_rendezvous_shard": 0,  # shard rollup checkpointed; totals reuse
    "q_rmst": 0,  # lifetimes + segments checkpointed; area/var walks reuse
    "q_cochran_armitage": 0,  # gs_assignments checkpoint; 4-row rollup

    "q_ab_test": 1,
    "q_agg_approx": 1,
    # Round-7 curation/sketch family: drift + flow-matrix read their two
    # corpus sides once each; the sketch is one window+rollup pass; MMR's
    # corpus work happens before its checkpointed shortlist (0 scans in
    # the final fold plan)
    "q_centroid_drift": 2,
    "q_dup_flow_matrix": 2,
    "q_quantile_sketch_rollup": 1,
    "q_rerank_mmr": 0,
    "q_trimmed_mean": 1,
    "q_fleiss_kappa": 1,
    # Round-7 eval_stats family: mcnemar/mann-whitney/gini are one pass;
    # jsd/chi2/spearman checkpoint their shared frame (0 scans in the
    # final plan); bh_fdr checkpoints the 16-row arm frame
    "q_mcnemar": 1,
    "q_mann_whitney": 1,
    "q_js_divergence": 0,
    "q_chi2_keywords": 0,
    "q_spearman_corr": 0,
    "q_bh_fdr": 0,
    "q_gini_users": 1,
    # Round-8 robust-stats family: single-aggregate folds; kruskal/kendall
    # checkpoint their bounded frames (0 final-plan scans); brown-forsythe
    # and mad_outliers inherently re-scan for the median-dependent pass
    "q_anova_f": 1,
    "q_cohens_d": 1,
    "q_kruskal_wallis": 0,
    "q_wilcoxon_signed_rank": 1,
    "q_kendall_tau": 0,
    "q_brown_forsythe": 2,
    "q_friedman_test": 1,
    "q_mad_outliers": 2,
    # Round-8 monitoring family: cusum/woe/jackknife fold over
    # checkpointed bounded frames; contamination_drift mirrors
    # q_contamination_report's 3 structural gram/join passes
    "q_sprt_monitor": 1,
    "q_cusum_drift": 0,
    "q_jackknife_variance": 0,
    "q_woe_iv": 0,
    "q_contamination_drift": 3,
    "q_dup_span_ladder": 1,
    "q_sketch_drift": 0,
    # Round-9 families: the dist/experiment tests fold over checkpointed
    # bounded frames (daily means, distinct-value cells, per-user frame)
    # — 0 scans in the executed plan; the corpus-statistics ops make one
    # structural documents pass each (q_ngram_novelty's gram frame is
    # checkpointed, measured 3 → 0)
    "q_cramer_von_mises": 0,
    "q_anderson_darling": 0,
    "q_mood_median": 0,
    "q_runs_test": 0,
    "q_mann_kendall": 0,
    "q_group_sequential": 0,
    # single consumer since the site-stratum change dropped the min-day
    # fold (and with it the checkpoint): one structural events scan
    "q_mantel_haenszel": 1,
    "q_permutation_test": 0,
    "q_page_hinkley": 1,
    "q_bpe_merges": 1,
    "q_ngram_novelty": 0,
    "q_zipf_fit": 1,
    "q_chao1_vocab": 1,
    "q_good_turing": 1,
    "q_cochran_q": 1,
    "q_cramers_v": 0,
    "q_agg_approx_quantile": 1,
    "q_agg_distinct": 1,
    "q_agg_hash": 1,
    "q_agg_stats": 1,
    "q_array_ops": 1,
    "q_bitwise_agg": 1,
    "q_bootstrap_ci": 2,  # replicate-weight pass + the exact-mean pass
    "q_bloom_prune": 3,
    "q_chunking": 1,
    "q_cohort_retention": 2,
    "q_collect_sorted": 2,
    "q_commit_offsets": 1,
    "q_composite_report": 3,
    "q_cond_agg": 1,
    "q_copurchase": 1,  # both self-join sides read one reused spread exchange
    "q_corr": 1,
    "q_cube": 1,
    "q_dataset_split": 1,
    "q_dataset_split_grouped": 1,
    "q_date_arith": 1,
    "q_decontaminate_fuzzy": 0,
    "q_dedup_cluster": 0,
    "q_dedup_embedding": 3,
    "q_dedup_exact": 1,
    "q_dedup_keep_best": 1,
    "q_dedup_minhash": 0,
    "q_dedup_ngram_jaccard": 0,
    "q_calibration_bins": 1,
    "q_ctr_wilson": 1,
    "q_dedup_prefix": 1,
    "q_dedup_semantic": 1,
    "q_dedup_simhash": 0,
    "q_embedding_centroid": 1,
    "q_freq_spectrum": 1,
    "q_hapax_report": 1,
    "q_kappa_agreement": 1,
    "q_domain_cap": 1,
    "q_embedding_norm": 1,
    "q_embedding_quant": 1,
    "q_entropy": 1,
    "q_ewma": 1,
    "q_explode_tokens": 1,
    "q_feature_hash": 1,
    "q_filter_pushdown": 1,
    "q_fingerprint": 1,
    "q_fuzzy_join": 2,
    "q_gap_fill": 2,
    "q_grouping_sets": 1,
    "q_heavy_hitters": 1,
    "q_histogram": 1,
    "q_hll_rollup": 1,
    "q_integrity_check": 5,
    "q_interval_merge": 1,
    "q_join_anti": 2,
    "q_join_asof": 2,
    "q_join_full": 2,
    "q_join_inner": 2,
    "q_join_left": 2,
    "q_join_multiway": 4,
    "q_join_range": 2,
    "q_join_semi": 2,
    "q_join_skew_salted": 2,
    "q_json_extract": 1,
    "q_json_schema": 1,
    "q_knn_eval": 2,
    "q_lang_id": 1,
    "q_lateral_topn": 2,
    "q_map_ops": 1,
    "q_median": 1,
    "q_merge_upsert": 2,
    "q_min_max_by": 1,
    "q_multimodal_decode": 1,
    "q_multimodal_dedup": 1,
    "q_multimodal_features": 1,
    "q_multimodal_frames": 1,
    "q_multimodal_meta": 1,
    "q_multimodal_pair": 2,
    "q_multimodal_patches": 1,
    "q_multimodal_resize": 1,
    "q_ntile": 1,
    "q_null_semantics": 2,
    "q_object_keys": 1,
    "q_offset_bounds": 1,
    "q_outlier_iqr": 2,
    "q_pack_sequences": 1,
    "q_partition_demux": 1,
    "q_percent_of_total": 3,
    "q_percentile_cont": 1,
    "q_pii_redact": 1,
    "q_pipeline_e2e": 1,
    "q_pivot": 1,
    "q_profile": 1,
    "q_project_expr": 1,
    "q_quality_score": 1,
    "q_recursive_cte": 0,
    "q_regex_extract": 1,
    "q_repetition": 1,
    "q_rollup": 1,
    "q_running_distinct": 1,
    "q_sample_mixture": 1,
    "q_scalar_funcs": 1,
    "q_scan_events": 1,
    "q_scd2": 1,
    "q_seq_pattern": 1,
    "q_session_window": 1,
    "q_set_ops": 6,
    "q_sim_ann_ivf": 2,
    "q_sim_ann_ivfpq": 3,
    "q_sim_ann_lsh": 2,
    "q_sim_topk": 2,
    "q_sliding_window": 1,
    "q_sort_limit": 1,
    "q_sql_api": 6,
    "q_stratified_sample": 1,
    "q_string_agg": 2,
    "q_subquery_exists": 2,
    "q_subquery_not_in": 2,
    "q_subquery_scalar": 3,
    "q_text_stats": 1,
    "q_tfidf": 1,
    "q_theta_overlap": 2,
    "q_token_count": 1,
    "q_topic_discovery": 1,
    "q_topic_filter": 1,
    "q_tpch02": 5,
    "q_tpch03": 3,
    "q_tpch04": 2,
    "q_tpch05": 6,
    "q_tpch06": 1,
    "q_tpch07": 6,
    "q_tpch08": 8,
    "q_tpch09": 5,
    "q_tpch10": 4,
    "q_tpch12": 2,
    "q_tpch13": 2,
    "q_tpch14": 2,
    "q_tpch16": 2,
    "q_tpch17": 3,
    "q_tpch19": 2,
    "q_tpch21": 6,
    "q_tpch22": 3,
    "q_tumbling_window": 1,
    "q_udaf_pandas": 1,
    "q_udf_pandas": 1,
    "q_unpivot": 1,
    "q_variant": 1,
    "q_window_distribution": 1,
    "q_window_lead_lag": 1,
    "q_window_range_frame": 1,
    "q_window_rank": 1,
    "q_window_running": 1,
    "q_zorder": 1,
    "q_zscore": 2,
}


@pytest.mark.slow  # full-surface audit (~100 s) — r12 driver-window default excludes it
def test_full_surface_scan_counts(spark, sf_dir):
    """Sweep EVERY registered query not in the curated table and compare
    its executed-plan parquet-scan count against the frozen baseline —
    the recompute-audit discipline (ROADMAP r3) extended from the 50-odd
    curated ids to the whole surface."""
    qs = registry.queries()
    missing = sorted(set(qs) - set(SCAN_CEILINGS) - set(FULL_SURFACE_SCANS))
    assert not missing, f"queries with no scan baseline: {missing}"
    offenders = {}
    for name, ceiling in sorted(FULL_SURFACE_SCANS.items()):
        n = executed_scans(qs[name](spark, sf_dir))
        if n > ceiling:
            offenders[name] = (n, ceiling)
    assert not offenders, (
        f"scan counts rose above baseline (count, ceiling): {offenders}"
    )


@pytest.mark.parametrize("name", ["q_subquery_scalar", "q_join_full"])
def test_executed_scans_counts_every_scan_that_runs(spark, sf_dir, name):
    """q_subquery_scalar: the subquery's adaptive plan (with its own Final
    and Initial blocks) prints inside the outer final plan, ahead of the
    outer customer scan; both scans count, neither initial plan does, and
    the pushed filter's ReusedSubquery adds nothing.  q_join_full: the
    supplier side is empty at sf0.001, and its scan still counts."""
    assert executed_scans(registry.queries()[name](spark, sf_dir)) == 2
