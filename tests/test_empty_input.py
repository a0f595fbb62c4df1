"""Empty-input robustness: operators must not CRASH on 0-row tables.

A 100 TB pipeline meets empty inputs constantly — a backfill window with
no data, a partition with no late events, a tenant with no documents. An
operator that throws (instead of returning an empty/NULL-graded result)
kills the whole job. The full registry was swept against an all-empty
fixture once (273/273 no-crash after fixes); this test re-runs the
operators that originally FAILED that sweep — the regression set —
plus one representative per structural family.

Original failure classes (all fixed, each annotated at the fix site):
- write-then-readback schema inference: zero part files → explicit
  `.schema(...)` on read-back (sink_partitioned, sink_merge_upsert,
  scan_manifest_pruned, pipeline_ingest_register, and the since-deleted
  partitioned IVF index)
- ANSI DIVIDE_BY_ZERO on count denominators → `when(n > 0, ...)`
  (win_funnel_steps, ingest_dq_suite, ingest_gdpr_erasure)
- driver-side 1/0 on an empty node set → early empty return
  (graph_pagerank)
- footer stats of an empty row group → skip stat-less groups
  (scan_footer_stats)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: fast tier: the ten originally-failing ops + structural-family
#: representatives
FAST_PROBES = [
    # regression set
    "sink_partitioned", "sink_merge_upsert", "scan_manifest_pruned",
    "pipeline_ingest_register", "sim_ann_ivf", "win_funnel_steps",
    "ingest_dq_suite", "ingest_gdpr_erasure", "graph_pagerank",
    "scan_footer_stats",
    # family representatives
    "flagship_q3", "agg_pricing_summary", "win_rank_trio",
    "dedup_near_minhash", "dedup_simhash_wide", "dedup_embedding_ann",
    "sim_topk", "text_quality",
    "pipeline_llm_prep", "stream_session", "agg_ks_test",
    "pipeline_bpe_train",
]

#: slow tier: later additions. This is a strict subset of the
#: full-registry empty sweep the round gates run (tools/round_gates.sh)
#: — see pytest.ini.
SLOW_PROBES = [
    # r3 additions land here the round they are written (r2 verdict #7)
    "graph_connected_components", "ml_naive_bayes", "sim_sparse_tfidf_topk",
    "multimodal_phash_dedup", "agg_ohlc_bars", "agg_user_overlap_jaccard",
    "agg_time_decay_score", "sample_group_holdout", "ingest_freshness_slo",
    "win_pareto_share", "agg_session_bounce", "ingest_late_data_report",
    "text_vocab_growth", "pipeline_train_eval_split",
    "join_asof_tolerance", "agg_activity_heatmap", "ml_eval_metrics",
    "ingest_row_fingerprint", "ingest_volume_anomaly", "dedup_cross_source",
    "text_top_terms",
    "win_rolling_median", "agg_theil_index", "agg_apdex",
    "sample_balanced_label", "graph_bfs_levels",
    "sim_knn_graph", "dedup_fuzzy_key",
    "text_boilerplate_prefix", "sample_negative_pairs",
    "sim_knn_graph_blocked",
    "multimodal_pair_batches", "dedup_survivorship", "win_gap_distribution",
    "ingest_reconcile_totals", "win_time_to_convert",
    "pipeline_filter_funnel", "text_ngram_novelty",
    "graph_degree_distribution", "ml_lift_chart", "ingest_psi_drift",
    "stream_topk_windowed", "win_rolling_regression", "ml_feature_hashing",
    "ml_target_encoding",
    "agg_dau_wau", "agg_ship_latency", "agg_price_index",
    "ml_kfold_assign", "stream_error_rate_alert",
    "win_top_paths", "agg_reorder_rate", "ml_embedding_qc",
    "agg_revenue_recognition", "win_peak_concurrency",
    "ml_auc_roc", "win_wma", "text_cooccurrence_pmi",
    "win_rolling_mad", "pipeline_eval_pack",
    "udf_pandas_scalar_iter", "ml_precision_at_k", "agg_new_vs_returning",
    "join_fuzzy_levenshtein", "ml_threshold_sweep",
    "ingest_missing_hours_report", "agg_skyline_2d",
    "ingest_mix_shift_chi2", "agg_abc_classification", "win_error_burst",
    "sim_hamming_topk", "sim_hamming_topk_blocked",
    "pipeline_preference_pairs",
    "ml_embedding_dim_profile", "win_twap",
    "ml_cohens_kappa",
    "agg_catalog_coverage", "pipeline_dataset_card",
    "ingest_rate_limit_audit", "agg_wilson_interval",
    "win_rsi", "text_js_divergence",
    "agg_revenue_bridge",
    "scan_jsonl_badrecords",
    "ml_power_analysis",
    "agg_seasonal_index", "ingest_double_submit_guard",
    # r4 additions
    "agg_hhi_concentration", "agg_survival_km", "win_bollinger",
    "ml_bootstrap_ci", "ml_centroid_classify", "ml_embedding_drift",
    "ingest_checksum_manifest", "ingest_late_arriving_dims",
    "dedup_cluster_profile", "dedup_minhash_band_tune",
    "text_domain_classify", "text_tokenizer_fertility",
    "graph_label_propagation",
    "sim_mmr_diversify", "agg_runs_test", "agg_poisson_rate_ci",
    "sample_epoch_shuffle", "ml_propensity_weighting",
    # r5 additions
    "dedup_decontaminate", "sim_ann_recall_report",
    "ingest_fk_coverage_report", "sim_ann_lsh_multiprobe",
    "join_band_bucketed", "win_range_duration",
    "agg_spearman", "agg_spearman_grid", "agg_overlap_minhash", "win_macd",
    "sim_item_cooccurrence", "graph_sssp_weighted",
    "stream_chained_stateful", "stream_observed_metrics", "ml_woe_encoding",
    "scan_dpp_pruned", "pipeline_token_shard", "agg_approx_topk_merge",
    "text_perplexity_ngram",
    "agg_anova_f", "agg_cramers_v",
    "graph_kcore", "dedup_minhash_estimate_error",
    "pipeline_quality_filter_ablation", "bitwise_funcs",
    "agg_acf_multi_lag", "sim_threshold_pairs",
    "sim_rrf_fusion", "sim_bm25_topk", "join_bloom_prefilter",
    "ml_two_proportion_ztest", "agg_lorenz_curve",
    "sample_neyman_allocation",
    "sim_pq_adc_topk", "graph_hits", "stream_dedup_within_watermark",
    # r7 additions
    "udf_sql_function", "win_holt_linear", "graph_reach_recursive",
    "scan_nested_pruned", "stream_static_enrich", "join_skew_aqe",
    "agg_benford_test", "ml_isotonic_calibration", "ingest_id_gap_islands",
    "ml_conformal_interval",
    # r8 additions
    "join_runtime_bloom", "scan_agg_pushdown", "agg_exchange_reuse",
    "stream_checkpoint_resume", "scan_metadata_columns",
    "sink_rebalance_write",
    "sql_parameterized", "sql_session_variables",
    "agg_grouping_id", "scan_csv_multiline",
    # r9 additions
    "ml_calibration_bins_scalable", "pipeline_curriculum_order_scalable",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("mdis_empty"))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            t = pq.read_table(f"{src}/{f}")
            pq.write_table(t.slice(0, 0), f"{dst}/{f}")
    return dst


@pytest.mark.parametrize(
    "name",
    FAST_PROBES + [pytest.param(p, marks=pytest.mark.slow)
                   for p in SLOW_PROBES])
def test_no_crash_on_empty_tables(spark, empty_dir, name):
    import __spark_entry__ as E

    rows = E.queries()[name](spark, empty_dir).collect()
    assert isinstance(rows, list)  # any row count is fine; crashing is not


#: fast tier: operators that originally crashed the NULL-injection
#: sweep (10% NULLs in every non-key column): np.stack over None
#: vectors, None media buffers, NULL map keys, zero-weight groups,
#: collect_list-vs-count(*) index overruns in the sketches, None
#: manifest stats
FAST_NULL_PROBES = [
    "sim_topk", "sim_threshold_pairs", "sim_quantize_int8",
    "dedup_simhash_wide", "dedup_embedding_ann",
    "multimodal_decode", "multimodal_frame_sample", "multimodal_audio_stub",
    "agg_quantile_sketch_merge", "agg_histogram_sketch_bins",
    "map_ops", "map_transform_filter", "scan_binaryfile",
    "scan_manifest_pruned", "udf_grouped_agg", "ml_pca_power",
]

#: slow tier: later additions (the full-registry null sweep runs at
#: round close via tools/round_gates.sh)
SLOW_NULL_PROBES = [
    # r3 additions: NULL text (phash/tfidf/NB tokenization), NULL
    # event_type/value/ts (overlap, decay, OHLC, freshness)
    "graph_connected_components", "ml_naive_bayes", "sim_sparse_tfidf_topk",
    "multimodal_phash_dedup", "agg_ohlc_bars", "agg_user_overlap_jaccard",
    "agg_time_decay_score", "sample_group_holdout", "ingest_freshness_slo",
    "win_pareto_share", "agg_session_bounce", "ingest_late_data_report",
    "text_vocab_growth", "pipeline_train_eval_split",
    "join_asof_tolerance", "agg_activity_heatmap", "ml_eval_metrics",
    "ingest_row_fingerprint", "ingest_volume_anomaly", "dedup_cross_source",
    "text_top_terms",
    "win_rolling_median", "agg_theil_index", "agg_apdex",
    "sample_balanced_label", "graph_bfs_levels",
    "sim_knn_graph", "ml_calibration_bins_scalable", "dedup_fuzzy_key",
    "text_boilerplate_prefix", "sample_negative_pairs",
    "sim_knn_graph_blocked",
    "multimodal_pair_batches", "dedup_survivorship", "win_gap_distribution",
    "ingest_reconcile_totals", "win_time_to_convert",
    "pipeline_filter_funnel", "text_ngram_novelty",
    "graph_degree_distribution", "ml_lift_chart", "ingest_psi_drift",
    "stream_topk_windowed", "win_rolling_regression", "ml_feature_hashing",
    "ml_target_encoding",
    "agg_dau_wau", "agg_ship_latency", "agg_price_index",
    "ml_kfold_assign", "stream_error_rate_alert",
    "win_top_paths", "agg_reorder_rate", "ml_embedding_qc",
    "agg_revenue_recognition", "win_peak_concurrency",
    "ml_auc_roc", "win_wma", "text_cooccurrence_pmi",
    "win_rolling_mad", "pipeline_eval_pack",
    "udf_pandas_scalar_iter", "ml_precision_at_k", "agg_new_vs_returning",
    "join_fuzzy_levenshtein", "ml_threshold_sweep",
    "ingest_missing_hours_report", "agg_skyline_2d",
    "ingest_mix_shift_chi2", "agg_abc_classification", "win_error_burst",
    "sim_hamming_topk", "sim_hamming_topk_blocked",
    "pipeline_preference_pairs",
    "ml_embedding_dim_profile", "win_twap",
    "ml_cohens_kappa",
    "agg_catalog_coverage", "pipeline_dataset_card",
    "ingest_rate_limit_audit", "agg_wilson_interval",
    "win_rsi", "text_js_divergence",
    "agg_revenue_bridge",
    "scan_jsonl_badrecords",
    "ml_power_analysis",
    "agg_seasonal_index", "ingest_double_submit_guard",
    # r4 additions
    "agg_hhi_concentration", "agg_survival_km", "win_bollinger",
    "ml_bootstrap_ci", "ml_centroid_classify", "ml_embedding_drift",
    "ingest_checksum_manifest", "ingest_late_arriving_dims",
    "dedup_cluster_profile", "dedup_minhash_band_tune",
    "text_domain_classify", "text_tokenizer_fertility",
    "graph_label_propagation",
    "sim_mmr_diversify", "agg_runs_test", "agg_poisson_rate_ci",
    "sample_epoch_shuffle", "ml_propensity_weighting",
    # r5 additions
    "dedup_decontaminate", "sim_ann_recall_report",
    "ingest_fk_coverage_report", "sim_ann_lsh_multiprobe",
    "join_band_bucketed", "win_range_duration",
    "agg_spearman", "agg_spearman_grid", "agg_overlap_minhash", "win_macd",
    "sim_item_cooccurrence", "graph_sssp_weighted",
    "stream_chained_stateful", "stream_observed_metrics", "ml_woe_encoding",
    "scan_dpp_pruned", "pipeline_token_shard", "agg_approx_topk_merge",
    "text_perplexity_ngram",
    "agg_anova_f", "agg_cramers_v",
    "graph_kcore", "dedup_minhash_estimate_error",
    "pipeline_quality_filter_ablation", "bitwise_funcs",
    "agg_acf_multi_lag",
    "sim_rrf_fusion", "sim_bm25_topk", "join_bloom_prefilter",
    "ml_two_proportion_ztest", "agg_lorenz_curve",
    "pipeline_curriculum_order_scalable", "sample_neyman_allocation",
    "sim_pq_adc_topk", "graph_hits", "stream_dedup_within_watermark",
    # r7 additions
    "udf_sql_function", "win_holt_linear", "graph_reach_recursive",
    "scan_nested_pruned", "stream_static_enrich", "join_skew_aqe",
    "agg_benford_test", "ml_isotonic_calibration", "ingest_id_gap_islands",
    "ml_conformal_interval",
]


@pytest.mark.parametrize("probes", [
    FAST_PROBES + SLOW_PROBES, FAST_NULL_PROBES + SLOW_NULL_PROBES],
    ids=["empty", "nulls"])
def test_probe_lists_name_each_op_once(probes):
    """A repeated name runs the same probe twice under ``name0``/``name1``
    ids; each op belongs in one tier of one sweep once."""
    assert sorted(n for n in set(probes) if probes.count(n) > 1) == []


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """Every non-key column gets a NULL on every 10th row."""
    from tools.sweep import build

    return build("nulls", str(tmp_path_factory.mktemp("mdis_nulls")))


@pytest.mark.parametrize(
    "name",
    FAST_NULL_PROBES + [pytest.param(p, marks=pytest.mark.slow)
                        for p in SLOW_NULL_PROBES])
def test_no_crash_on_null_cells(spark, nulls_dir, name):
    import __spark_entry__ as E

    rows = E.queries()[name](spark, nulls_dir).collect()
    assert isinstance(rows, list)


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    """Non-ASCII text appended to every 7th document: accents, CJK,
    Cyrillic, emoji (astral-plane codepoints), an embedded tab."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("mdis_unicode"))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/{f}", f"{dst}/{f}")
    t = pq.read_table(f"{dst}/documents.parquet")
    texts = t.column("text").to_pylist()
    extra = ["héllo wörld", "日本語 テスト",
             "emoji \U0001f680\U0001f525 test", "综合 数据 管理",
             "naïve café déjà-vu", "кириллица тест", "plain", "tab\tchar"]
    for i in range(len(texts)):
        if i % 7 == 2:
            texts[i] = (texts[i] or "") + " " + extra[i % len(extra)]
    cols = {n: t.column(n) for n in t.column_names}
    cols["text"] = pa.array(texts, type=pa.string())
    pq.write_table(pa.table(cols), f"{dst}/documents.parquet")
    return dst


def test_text_family_oracle_exact_on_unicode(spark, unicode_dir):
    """Beyond no-crash: the text/dedup family must stay HASH-EXACT vs
    the DuckDB oracle on non-ASCII input — string length semantics
    (codepoints vs bytes), regex classes, md5-of-UTF-8, and case
    mapping are all classic cross-engine divergence points. A swept
    subset (the codepoint-sensitive operators) runs the full oracle
    comparison on the unicode fixture."""
    from tests.oracle_check import run_all

    names = ["text_stats", "text_wordcount", "text_ngrams", "text_lang_id",
             "text_token_bpe", "text_fingerprint", "dedup_exact",
             "pipeline_bpe_train",
             # r8: multiline-CSV quoting must survive non-ASCII text
             # (the unicode fixture embeds a literal TAB too)
             "scan_csv_multiline"]
    results = run_all(sf_dir=unicode_dir, only=names, spark=spark)
    bad = [r.name for r in results if not r.ok]
    assert not bad, bad


#: ops whose NULL semantics are load-bearing — these must stay
#: HASH-EXACT vs the DuckDB oracle on the null-injected fixture, not
#: merely not-crash. The class exists because the r6 sweep found
#: ingest_clean_nulls silently DROPPING the null-cohort row (inner
#: equi-join on a NULL grouping key) — invisible to both the
#: standard-fixture oracle and the no-crash probe. Extended r7 per the
#: verdict (21 names at r6; current count = len(NULL_ORACLE_EXACT),
#: never hand-written — test_no_hand_counted_null_gate_literals pins
#: the class): every
#: join_*/ingest_*/win_*/sample_*/
#: provenance_* op that the full-registry null sweep verified exact,
#: plus the 20 ops the r7 sweep FIXED (null-text shingle pairing
#: blowup in the dedup family, presence-vs-checksum confusion in
#: manifest_diff, format_string's "null" literal in row_fingerprint,
#: -inf leak in stream_stateful_running, equi-join drops of NULL
#: grouping keys in id_mint_scalable / temperature_mix / skew_kurtosis
#: / percentile_weighted, null sort-order divergence in equidepth /
#: topk tie-breaks, and the binaryfile zero-byte-file skip). The
#: full-registry sweep is `tools/sweep.py nulls` (round-close
#: gate); this pytest subset is the per-commit regression net.
NULL_ORACLE_EXACT = [
    "agg_boolean", "agg_gapfill_interp", "agg_histogram_equidepth",
    "agg_lorenz_curve", "agg_minby_maxby", "agg_overlap_minhash",
    "agg_percentile_weighted", "agg_pricing_summary", "agg_skew_kurtosis",
    "agg_spearman_grid", "agg_stats", "cond_funcs",
    "dedup_clusters", "dedup_containment", "dedup_minhash_band_tune",
    "dedup_minhash_estimate_error", "dedup_near_jaccard", "dedup_near_minhash",
    "explode_outer_semantics", "filter_in_like_null",
    # r8: per-row BIGINT-cent quantization removed q9's half-cent tie
    "flagship_q9_product_profit",
    "ingest_backfill_plan",
    "ingest_cdc_apply", "ingest_checksum_manifest", "ingest_clean_nulls",
    "ingest_double_submit_guard", "ingest_dp_release", "ingest_dq_suite",
    "ingest_file_lineage", "ingest_fk_coverage_report", "ingest_freshness_slo",
    "ingest_gdpr_erasure", "ingest_id_mint_scalable",
    "ingest_incremental_agg", "ingest_k_anonymity", "ingest_late_arriving_dims",
    "ingest_late_data_report", "ingest_manifest", "ingest_manifest_diff",
    "ingest_missing_hours_report", "ingest_mix_shift_chi2", "ingest_partition_skew_report",
    "ingest_post_entities", "ingest_profile", "ingest_psi_drift",
    "ingest_quarantine", "ingest_rate_limit_audit", "ingest_reconcile_totals",
    "ingest_row_fingerprint", "ingest_scd2", "ingest_union_drifted",
    "ingest_upsert_latest", "ingest_validate", "ingest_volume_anomaly",
    "join_anti", "join_asof", "join_asof_forward",
    "join_asof_nearest", "join_asof_tolerance", "join_band_bucketed",
    "join_bloom_prefilter", "join_broadcast", "join_cross",
    "join_full_outer", "join_fuzzy_levenshtein", "join_inner_equi",
    "join_interval_overlap", "join_left_outer", "join_null_safe",
    "join_pit_scd2", "join_range_theta", "join_right_outer",
    "join_semi", "join_skew_salted", "ml_woe_encoding",
    "provenance_chain", "provenance_impact_cascade", "sample_balanced_label",
    "sample_epoch_shuffle", "sample_group_holdout", "sample_hash",
    "sample_importance_weighted", "sample_negative_pairs", "sample_neyman_allocation",
    "sample_stratified", "sample_temperature_mix", "sample_train_val_test",
    "scalar_try_funcs", "scan_binaryfile", "sort_multi_null",
    # r8: the format-null class made EXECUTABLE (r7 verdict #5) — the
    # CSV/JSON/partition-layer null contracts are now stated by the
    # oracles themselves (token-count-mismatch = corrupt, blank JSON
    # line = skipped, NULL event_type = __legacy__ post-evolution,
    # NULL partition dir in the manifest) and sink_merge_upsert's
    # null-partition merge drop was a real bug, fixed
    "scan_csv_badrecords", "scan_jsonl_badrecords",
    "scan_schema_evolution", "sink_merge_upsert", "scan_manifest_pruned",
    # r8 new ops, null-exact from birth
    "join_runtime_bloom", "scan_agg_pushdown", "agg_exchange_reuse",
    "stream_checkpoint_resume", "scan_metadata_columns",
    "sink_rebalance_write",
    "sql_parameterized", "sql_session_variables",
    "agg_grouping_id", "scan_csv_multiline",
    "stream_observed_metrics", "stream_stateful_running", "stream_topk_windowed",
    "text_chunk_overlap", "text_perplexity_ngram", "udf_map_partitions",
    "win_autocorr_lag1", "win_churn_weekly", "win_conditional",
    "win_cumulative_distinct", "win_dist_ranks", "win_error_burst",
    "win_ewma", "win_forward_fill", "win_funnel_steps",
    "win_gap_distribution", "win_interval_coalesce", "win_lag_lead",
    "win_macd", "win_max_drawdown", "win_moving_range",
    "win_ntile_firstlast", "win_pareto_share", "win_peak_concurrency",
    "win_period_growth", "win_range_duration", "win_rank_trio",
    "win_retention_cohorts", "win_rolling_mad", "win_rolling_median",
    "win_rolling_regression", "win_rolling_wau", "win_rsi",
    "win_running_sum", "win_seasonal_backtest", "win_sessionize",
    "win_streak_days", "win_time_to_convert", "win_top_paths",
    "win_topk_group", "win_twap", "win_wma",
    "win_zscore_outliers", "win_zscore_rolling",
    # r7 second fix batch: null-day/price time series aligned
    "agg_runs_test", "agg_acf_multi_lag", "agg_survival_km",
    "win_bollinger",
    # r7 new ops (verified hash-exact on the null fixture at birth)
    "udf_sql_function", "win_holt_linear", "graph_reach_recursive",
    "scan_nested_pruned", "stream_static_enrich", "join_skew_aqe",
    "agg_benford_test", "ml_isotonic_calibration", "ingest_id_gap_islands",
    "ml_calibration_bins_scalable", "ml_lift_chart", "ml_threshold_sweep",
    "ml_conformal_interval",
    # r8 second fix batch: the null-sweep residual burned down 10 → 2.
    # decode(NULL) = NULL in the multimodal stubs (was: coerced to b"");
    # the embedding trainers/evals filter NULL vectors/labels on BOTH
    # engines (was: posexplode silently dropped them Spark-side while
    # the oracle's cross join kept NULL-x rows); AUC joined the
    # _SCORED_ONLY_SQL ranked-score family.
    "multimodal_decode", "multimodal_frame_sample", "multimodal_audio_stub",
    "ml_kmeans_embeddings", "ml_knn_classify", "ml_pca_power",
    "ml_auc_roc", "sim_pq_quantize", "sim_pq_adc_topk",
    # r8: the last two sketch divergers became exact — approx_ok is
    # vacuously TRUE for a group with nothing to estimate, and a NULL
    # event_type shard owns a sketch on both engines. Residual = 0.
    "agg_approx_quantile", "agg_hll_partitioned",
]


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_null_semantics_oracle_exact(spark, nulls_dir):
    """Beyond no-crash: the null-sensitive subset must stay HASH-EXACT
    vs the DuckDB oracle on the null-injected fixture — null grouping
    keys, null-safe joins, IGNORE NULLS fills and try_-function arms
    are classic cross-engine divergence points that the standard
    fixture (no nulls) cannot exercise."""
    from tests.oracle_check import run_all

    results = run_all(sf_dir=nulls_dir, only=NULL_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(NULL_ORACLE_EXACT)
    assert not bad, bad


def test_no_hand_counted_null_gate_literals():
    """The r6 AND r7 verdicts both caught a hand-written NULL_ORACLE_EXACT
    size in prose drifting from the pinned list (21-vs-134, then
    134-vs-151). Kill the class: no line mentioning the gate may carry a
    bare "<N> ops/names" literal other than the frozen historical
    baseline ("21 names at r6") or the true current length."""
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # and the list itself must be duplicate-free (an r8 insertion once
    # matched BOTH lists' identical tails and double-added four names)
    assert len(NULL_ORACLE_EXACT) == len(set(NULL_ORACLE_EXACT))
    allowed = {21, len(NULL_ORACLE_EXACT)}
    offenders = []
    for rel in ("tools/sweep.py", "tests/test_empty_input.py"):
        for i, line in enumerate(open(os.path.join(repo, rel)), 1):
            if "NULL_ORACLE_EXACT" not in line:
                continue
            for m in re.finditer(r"(\d+)\s+(?:ops|names)", line):
                if int(m.group(1)) not in allowed:
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, offenders


#: ops the ADVERSARIAL-TEXT sweep (`tools/sweep.py adversarial`: unicode
#: suffixes, empty strings, whitespace-only, embedded quote/comma/
#: newline/tab/backslash in every string column) found divergent at
#: its first full run — all fixed late r8, held HASH-EXACT here as the
#: per-commit regression net (the full 440-op sweep is the close
#: gate). The classes: ANSI-throw-vs-NULL (÷0, element_at,
#: parse_json), Jackson trailing-garbage JSON leniency, byte-vs-
#: codepoint oracles, simple-vs-full case mapping, levenshtein units,
#: CSV writer trimming / ''-vs-NULL / multiLine asymmetries, the
#: hive '' partition coercion, and accumulation-order rounding ties in
#: engine-native moment aggregates (PARITY #44-#50).
ADVERSARIAL_ORACLE_EXACT = [
    "text_tokenizer_fertility", "win_zscore_outliers",
    "agg_seasonality_strength", "str_split_extract", "str_fuzzy",
    "str_basic", "json_extract", "json_schema_parse", "variant_funcs",
    "multimodal_manifest", "multimodal_decode", "multimodal_frame_sample",
    "multimodal_audio_stub", "multimodal_shard_assign",
    "multimodal_phash_dedup", "scan_binaryfile",
    "agg_approx_quantile", "agg_approx_topk_merge", "agg_corr_covar",
    "agg_regression", "udtf_tokenize", "udtf_tokenize_arrow",
    "scan_csv_roundtrip", "sink_manifest_tsv", "scan_excel",
    "sink_merge_upsert", "scan_csv_badrecords", "scan_jsonl_badrecords",
    "scan_csv_multiline",
]


@pytest.fixture(scope="module")
def adversarial_dir(tmp_path_factory):
    """The adversarial-text fixture, built by the sweep tool itself so
    the per-commit gate and the close gate can never drift."""
    from tools.sweep import build

    return build("adversarial",
                 str(tmp_path_factory.mktemp("mdis_adversarial")))


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_adversarial_text_oracle_exact(spark, adversarial_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=adversarial_dir, only=ADVERSARIAL_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(ADVERSARIAL_ORACLE_EXACT)
    assert not bad, bad


#: ops the EXTREME-NUMERICS sweep (`tools/sweep.py numeric`: zeros,
#: negated values, large-magnitude values in every numeric non-key
#: column) found divergent at its first full run — all fixed late r8,
#: held HASH-EXACT here as the per-commit regression net. The classes:
#: Spark floor() silently SATURATING at ±2^63 (the shared rounder now
#: floors in doubles), pmod-vs-% on negative keys, bigint
#: multiplication overflow (both engines ERROR rather than promote —
#: DECIMAL/HUGEINT factors), and double-sum accumulation order at
#: magnitudes the 2dp-clean standard fixture never reaches
#: (exact-integer moment forms; PARITY #51-#53).
NUMERIC_ORACLE_EXACT = [
    "project_compute", "agg_pricing_summary", "agg_filtered",
    "agg_corr_covar", "agg_regression", "ingest_reconcile_totals",
    "udf_grouped_map", "udf_map_partitions",
]


@pytest.fixture(scope="module")
def numeric_dir(tmp_path_factory):
    from tools.sweep import build

    return build("numeric", str(tmp_path_factory.mktemp("mdis_numeric")))


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_numeric_edge_oracle_exact(spark, numeric_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=numeric_dir, only=NUMERIC_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(NUMERIC_ORACLE_EXACT)
    assert not bad, bad


#: ops the TEMPORAL-EDGE sweep (`tools/sweep.py temporal`: pre-epoch
#: leap-day, far-future end-of-day, epoch-zero timestamps) found
#: divergent at its first full run — all fixed late r8, held
#: HASH-EXACT here as the per-commit net. The classes: DuckDB's
#: integer `//` and date_diff('week') TRUNCATE toward zero / the
#: epoch where Spark floors (exact positive-mod day buckets now on
#: both engines); Spark's watermark initializes at epoch 0 and a
#: far-future event poisons it (the watermarked streaming ops now
#: gate event time at ingest — _VALID_TS_SQL); date_add truncates
#: time-of-day; cents·µs products overflow int64 on pathological
#: gaps (PARITY #54-#56).
TEMPORAL_ORACLE_EXACT = [
    "date_parts", "agg_cohort_ltv_curve", "win_twap",
    "stream_sliding", "stream_watermark_late", "stream_join",
    "stream_join_outer", "stream_dedup", "stream_dedup_within_watermark",
    "stream_chained_stateful",
    # floored-day-bucket reps (epoch_day sites swept green)
    "win_rsi", "agg_dau_wau", "agg_seasonal_index",
]


@pytest.fixture(scope="module")
def temporal_dir(tmp_path_factory):
    from tools.sweep import build

    return build("temporal", str(tmp_path_factory.mktemp("mdis_temporal")))


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_temporal_edge_oracle_exact(spark, temporal_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=temporal_dir, only=TEMPORAL_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(TEMPORAL_ORACLE_EXACT)
    assert not bad, bad


#: Interval-parameterized operators held hash-exact on the BOUNDARY-TIE
#: fixture (`tools/sweep.py boundary`: per-user event gaps landing
#: exactly on every declared tolerance/gap/band, supplier balances
#: exactly at the band-join edge). The r8 stream_session bug class —
#: Spark's session_window MERGES at exactly gap-distance where the
#: gaps-and-islands oracle split — survived all four value-mutation
#: gates precisely because no fixture row sat at a boundary; this net
#: holds the exact-tie semantics per commit (the full 442-op boundary
#: sweep is the close gate).
BOUNDARY_ORACLE_EXACT = [
    "stream_session", "stream_watermark_late", "stream_tumbling",
    "stream_sliding", "win_sessionize", "agg_session_bounce",
    "join_asof", "join_asof_nearest", "join_asof_forward",
    "join_asof_tolerance", "join_interval_overlap", "join_pit_scd2",
    "join_band_bucketed", "join_range_theta",
    "win_rolling_wau", "win_churn_weekly", "win_interval_coalesce",
    "win_peak_concurrency", "win_gap_distribution",
]


@pytest.fixture(scope="module")
def boundary_dir(tmp_path_factory):
    from tools.sweep import build

    return build("boundary", str(tmp_path_factory.mktemp("mdis_boundary")))


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_boundary_tie_oracle_exact(spark, boundary_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=boundary_dir, only=BOUNDARY_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(BOUNDARY_ORACLE_EXACT)
    assert not bad, bad


#: ops the KEY-SKEW sweep (`tools/sweep.py skew`: hot user/customer/
#: supplier/nation keys, template mega-dup text clusters, a hot
#: embedding vector) found divergent at its first full run — both
#: fixed same-session (PARITY #58) — plus the hot-key / mega-cluster
#: representatives whose answers must stay distribution-invariant.
SKEW_ORACLE_EXACT = [
    "sim_bm25_topk", "text_js_divergence",
    # hot-key / giant-group representatives
    "stream_session", "win_sessionize", "win_funnel_steps",
    "join_skew_salted", "join_skew_aqe", "join_asof",
    "dedup_near_jaccard_capped", "dedup_near_minhash", "dedup_clusters",
    "dedup_simhash_wide", "sim_sparse_tfidf_topk", "sim_topk",
    "sim_ann_lsh", "agg_heavy_hitters", "agg_mode_deterministic",
    "ingest_id_mint_scalable", "agg_rfm_segments",
]


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    from tools.sweep import build

    return build("skew", str(tmp_path_factory.mktemp("mdis_skew")))


@pytest.mark.slow  # in-suite twin of the tools/ round-gate sweep
def test_key_skew_oracle_exact(spark, skew_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=skew_dir, only=SKEW_ORACLE_EXACT, spark=spark)
    bad = [(r.name, r.detail[:100]) for r in results if not r.ok]
    assert len(results) == len(SKEW_ORACLE_EXACT)
    assert not bad, bad


#: Aggregate-total operators whose empty-input answer is a SINGLE row
#: with SQL NULL semantics (sum over zero rows is NULL, count is 0) —
#: the no-crash probe can't see a NULL-vs-0.0 divergence, so these are
#: held hash-exact on the EMPTY fixture too (r6 advisor, medium:
#: stream_observed_metrics coalesced an absent cents sum to 0.0).
EMPTY_ORACLE_EXACT = [
    "stream_observed_metrics", "agg_pricing_summary", "agg_boolean",
]


def test_empty_semantics_oracle_exact(spark, empty_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=empty_dir, only=EMPTY_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:120]) for r in results if not r.ok]
    assert len(results) == len(EMPTY_ORACLE_EXACT)
    assert not bad, bad


def test_binaryfile_empty_string_doc_oracle_exact(spark, tmp_path):
    """An EMPTY-STRING (non-NULL) document writes a zero-byte file,
    which Spark's file sources SKIP — so scan_binaryfile's contract is
    `text IS NOT NULL AND text <> ''` on BOTH engines (r7 advisor: the
    fixture shim now skips empty-string docs and the oracle mirrors the
    filter; this probe pins the contract on a fixture that actually
    CONTAINS an empty-string doc — the stock fixtures have none)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_check import run_all

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "emptystr")
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/{f}", f"{dst}/{f}")
    t = pq.read_table(f"{dst}/documents.parquet")
    texts = t.column("text").to_pylist()
    texts[0] = ""  # one empty-string doc: zero bytes on the mount
    cols = [t.column(c) if c != "text" else pa.array(texts, pa.string())
            for c in t.column_names]
    pq.write_table(pa.table(cols, names=t.column_names),
                   f"{dst}/documents.parquet")
    results = run_all(sf_dir=dst, only=["scan_binaryfile"], spark=spark)
    assert results and all(r.ok for r in results), [
        (r.name, r.detail[:120]) for r in results if not r.ok]


def test_tight_json_guard_symmetry(spark, tmp_path):
    """PINNED (r9 advice): the tight-JSON guard must be the SAME
    predicate on both engines. The r8 contract was regex-only on Spark
    but regex+json_valid on the oracle, so '{"k":55} junk}' (Jackson
    leniently extracts 55; yyjson says invalid) diverged. The strict
    flat-object grammar regex closes the class: every lenient-parse
    payload NULLs on BOTH sides, every historical payload still parses.
    Runs the three registered JSON consumers against their registered
    oracles on a fixture made ENTIRELY of boundary payloads."""
    import duckdb

    from manual_data_ingest_spark.registry import all_oracles, all_queries
    from tests.oracle_check import compare

    payloads = [
        '{"k": 69}', '{"k":55}', '  {"k": 7, "s": "ab"}  ', '{}',
        '{"a": -1.5e-3, "b": null, "k": 99}',
        '{"k":55} junk}', '{"k":55}{"x":1}', '{"k":55,}', '{"k":55}}',
        '{"a":{"b":2}}', "{'k':55}", '{"k":}', '{broken', 'null',
        # brace inside a string VALUE passes the grammar (valid JSON,
        # parsed identically) — keyed "s" because the fixture contract
        # types $.k as int on both engines
        '{"s":"a}b", "k": 3}', '{"k": [1,2]}', '{"k": 69} héllo', None,
        # duplicate extracted key: grammar-valid but the engines split
        # three ways (from_json last-wins, variant rejects, yyjson
        # first-wins) — the key-once contract leg NULLs it for the
        # from_json/variant consumers; get_json_object stays
        # first-wins-aligned with the oracle
        '{"k":1,"k":2}', '{"k": 7, "s": "x", "k": 8}',
        # r10 (r9 advice, medium): regex-accepted-but-INVALID JSON under
        # the r9 grammar — a leading-zero number and a raw control char
        # inside a string (both RFC-invalid; yyjson throws, Jackson
        # NULLs). The tightened grammar must reject both so the guard
        # NULLs them symmetrically instead of aborting the oracle.
        # (valid-JSON positives ride non-k keys: the fixture contract
        # types $.k as int on both engines)
        '{"k": 012}', '{"s":"a\nb", "k": 4}', '{"k": 0}',
        '{"a": 0.5, "k": 11}', '{"a": -0.5e2, "k": 12}',
    ]
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i % 3,
             "click", 1.0, p) for i, p in enumerate(payloads)]
    sf_dir = str(tmp_path / "sf_json")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet/*.parquet')")
    for name in ("json_extract", "json_schema_parse", "variant_funcs"):
        res = compare(name, all_queries()[name](spark, sf_dir),
                      con, all_oracles()[name])
        assert res.ok, (name, res.detail)


def test_numeric_envelope_negative_median_and_big_price(spark, tmp_path):
    """PINNED (r9 advice): two envelope cases the numeric sweep's 8%
    negation / bounded magnitudes never reach. (a) a group whose
    discrete median is NEGATIVE — agg_approx_quantile's relative bound
    threshold must use |quantile| or approx_ok goes false on an EXACT
    sketch answer; (b) o_totalprice ≥ $30.4M — agg_corr_covar's
    c*c / c*y co-moments overflow BIGINT/long unless both engines cast
    before multiplying. Registered ops vs registered oracles."""
    import datetime as dt

    import duckdb

    from manual_data_ingest_spark.registry import all_oracles, all_queries
    from tests.oracle_check import compare

    rows = []
    # group 'N': all-negative prices -> negative discrete median
    for i, p in enumerate([-10.0, -20.0, -30.0, -40.0, -50.0, -60.0, -70.0]):
        rows.append((i, 100 + i, "N", p,
                     dt.datetime(2024, 1, 1) + dt.timedelta(days=i), "3-MEDIUM"))
    # group 'B': price cents past 3.04e9 (c*c and c*y overflow int64)
    for i, p in enumerate([40_000_000.0, 41_000_000.0, 42_000_000.0]):
        rows.append((100 + i, 200 + i, "B", p,
                     dt.datetime(2024, 2, 1) + dt.timedelta(days=i), "1-URGENT"))
    sf_dir = str(tmp_path / "sf_envelope")
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string"
    ).coalesce(1).write.parquet(f"{sf_dir}/orders.parquet")

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{sf_dir}/orders.parquet/*.parquet')")
    for name in ("agg_approx_quantile", "agg_corr_covar"):
        res = compare(name, all_queries()[name](spark, sf_dir),
                      con, all_oracles()[name])
        assert res.ok, (name, res.detail)
    # and the negative-median group really exercises the bound: Spark
    # must report approx_ok TRUE there (the oracle hard-codes TRUE)
    got = {r.o_orderstatus: r.approx_ok for r in
           all_queries()["agg_approx_quantile"](spark, sf_dir).collect()}
    assert got == {"N": True, "B": True}, got
