"""Query registry — the single source of truth wiring the engine's
operator surface (SURVEY.md §2.B) to the driver contract in
``__spark_entry__.py``.

Every operator the engine claims is registered here with
  * a Spark implementation ``(spark, sf_dir) -> DataFrame``, and
  * (when SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.

Determinism contract (the driver hashes values order-insensitively but
exactly): every registered query must produce a bit-stable row multiset.
See ``compat.py`` for the decimal/rounding helpers that make float
aggregates reproducible across Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nchu_bigdata_spark.session import query_session

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")

        # Driver-compat output layer (compat.py module doc): every
        # registered query's final DECIMAL columns become DOUBLE on both
        # engines so the driver's pandas canonicalizer sees identical
        # dtypes. No-op for queries without decimal outputs.
        from nchu_bigdata_spark.compat import finalize_oracle, finalize_output

        def final_fn(spark: SparkSession, sf_dir: str, _fn: QueryFn = fn) -> DataFrame:
            # Queries run under caller-owned sessions (the driver's):
            # each runs in its own pinned child session, so results
            # can't drift with the caller's defaults and nothing the
            # query sets reaches the caller (session.query_session).
            return finalize_output(_fn(query_session(spark), sf_dir))

        final_fn.__name__ = fn.__name__
        final_fn.__doc__ = fn.__doc__
        final_fn.__wrapped__ = fn

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=final_fn,
            oracle=finalize_oracle(oracle) if oracle is not None else None,
            tags=tags,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


# Driver presentation order — THE ROTATION LEDGER. The driver checks
# the FIRST 50 registered queries each round; this list is ordered so
# every SURVEY §2.B id accumulates an official driver CORRECTNESS row
# in a deterministic, published sequence (VERDICT r9 items 1-2).
#
# History (r1-r9): windows r1-r4 covered the original core groups; r5
# the new ids + changed plans; r6-r7 the round-6-born ids; r8 the
# round-7-born ids; r9 the round-8-born ids. 186 ids ever windowed,
# 183 latest-green + 3 rows-only-by-design as of r9.
#
# Remaining ledger, RECOUNTED after the r12 rotation AND the six r13
# births. After rotating the r12 window (50 consumed, all green), 63
# never-checked ids remained; the r13 births (scan_mor_positional,
# stream_range_join, embed_isotropy, scan_zorder_pruned,
# udtf_map_in_arrow, agg_hll_portable) queue at the tail of the
# never-checked block, so 69 never-checked ids now lead, consumed
# head-first in two windows:
#   r13: ids [0:50)  — head: orders_returns_rate ... sink_dynamic_overwrite
#   r14: the 19-id never-checked remainder (9 pre-r12 ids, 4 r12
#        births, 6 r13 births), then the TWENTY-ONE r14 births (5
#        session-1 + 16 session-2, queued behind them so each holds a
#        driver row from birth), then the pulled-forward
#        text_compression_ratio (stale r11 rows-only row refreshed
#        under the promoted exact oracle), then 9 oldest-green
#        refresh top-ups — 50 in all; the displaced top-ups shift to
#        the r15 window.
# After r14+r15 every id holds a driver row and the list degenerates
# into the oldest-green-first refresh cycle at the tail.
# Each round: run `python tools/rotate_ledger.py --apply` after the
# driver's CORRECTNESS_rN lands — it verifies the window actually ran
# as committed, keeps any non-green ids at the head for re-check, and
# moves the greens to the tail (the r9 unrotated-window incident is
# the reason this is a tool, not a convention).
DRIVER_ORDER = [
    # rotated by tools/rotate_ledger.py after round 15: 50 green ids moved to the tail
    # -- ROTATION LEDGER window r16: first 50 ids below (stuck ids from r15 lead) --
    "stream_watermark_late",  # r6
    "stream_tumbling",  # r6
    "agg_distinct",  # r6
    "fn_map",  # r6
    "agg_grouping_sets",  # r6
    "agg_pivot",  # r6
    "agg_vector_mean",  # r6
    "rollup_hypertable",  # r6
    "join_shuffle",  # r6
    "join_outer",  # r6
    "join_theta_range",  # r6
    "join_bucketed",  # r6
    "join_skew_salted",  # r6
    "win_rank",  # r6
    "win_lag_lead",  # r6
    "win_frame_avg",  # r6
    "win_running_total",  # r6
    "win_range_frame",  # r6
    "win_ntile",  # r6
    "udaf_grouped_pandas",  # r6
    "text_stats",  # r6
    "text_langid",  # r6
    "text_quality",  # r6
    "text_token_count",  # r6
    "text_fingerprint",  # r6
    "multimodal_cols",  # r6
    "multimodal_framesample",  # r6
    "dedup_exact",  # r6
    "agg_approx",  # r7
    "agg_percentile_exact",  # r7
    "agg_corr",  # r7
    "agg_regression",  # r7
    "text_collocation_pmi",  # r7
    "stream_cdc_upsert",  # r7
    "dedup_embed_cosine",  # r7
    "decontam_ngram",  # r7
    "text_pii_scrub",  # r7
    "embed_quantize",  # r7
    "dedup_incremental",  # r7
    "join_bloom_prune",  # r7
    "merge_upsert",  # r7
    "ann_recall_eval",  # r7
    "tpch_q7",  # r7
    "tpch_q12",  # r7
    "tpch_q17",  # r7
    "scd2_history",  # r7
    "join_interval_overlap",  # r7
    "text_bpe_pairs",  # r7
    "events_anomaly",  # r7
    "graph_pagerank",  # r7
    # -- ids beyond the r16 window: consumed head-first, 50/round --
    "graph_triangles",  # r7
    "scan_text",  # r7
    "sample_reservoir",  # r7
    "agg_bitmap_distinct",  # r7
    "win_first_last",  # r7
    "events_markov",  # r7
    "tpch_q10",  # r7
    "tpch_q14",  # r7
    "win_sessionize",  # r7
    "sub_lateral",  # r7
    "tpch_q4",  # r7
    "tpch_q13",  # r7
    "tpch_q22",  # r7
    "tpch_q15",  # r7
    "tpch_q16",  # r7
    "tpch_q19",  # r7
    "tpch_q11",  # r7
    "tpch_q21",  # r7
    "dedup_simhash_pairs",  # r7
    "text_ngram_stats",  # r7
    "sample_token_budget",  # r7
    "tpch_q18",  # r7
    "events_funnel",  # r7
    "win_distribution",  # r7
    "tpch_q8",  # r9
    "tpch_q9",  # r9
    "tpch_q20",  # r9
    "tpch_q2",  # r9
    "text_line_dedup",  # r9
    "mixture_weights",  # r9
    "embed_covariance",  # r9
    "project_unpivot",  # r9
    "tokenize_chunk_overlap",  # r9
    "fn_bitwise",  # r9
    "win_fill_forward",  # r9
    "agg_mode",  # r9
    "scan_csv_corrupt",  # r9
    "graph_bfs",  # r9
    "text_heavy_hitters",  # r9
    "ts_resample",  # r9
    "sample_importance",  # r9
    "table_diff",  # r9
    "fn_url",  # r9
    "sim_mips",  # r9
    "sort_zorder",  # r9
    "agg_histogram",  # r9
    "events_rfm",  # r9
    "agg_argmax",  # r9
    "agg_sketch_merge",  # r9
    "stats_profile",  # r9
    "sub_any_all",  # r9
    "scan_schema_evolution",  # r9
    "dedup_edit_distance",  # r9
    "embed_norm_stats",  # r9
    "tokenize_vocab_coverage",  # r9
    "events_ab_test",  # r9
    "ts_ewma",  # r9
    "win_running_distinct",  # r9
    "dedup_containment",  # r9
    "join_null_safe",  # r9
    "fn_conditional",  # r9
    "graph_degree_distribution",  # r9
    "sample_split",  # r9
    "win_rolling_median",  # r9
    "scan_binary_files",  # r9
    "agg_approx_topk",  # r9
    "events_active_users",  # r9
    "agg_moments",  # r9
    "stream_enrich_static",  # r9
    "agg_predicates",  # r9
    "rollup_incremental",  # r9
    "topk_percent",  # r9
    "events_gap_detect",  # r9
    "events_inter_arrival",  # r9
    "sink_compaction",  # r10
    "dedup_semdedup",  # r10
    "dedup_substring_spans",  # r10
    "decontam_embedding",  # r10
    "win_lorenz",  # r10
    "agg_cube",  # r10
    "agg_countmin",  # r10
    "graph_kcore_peel",  # r10
    "events_attribution",  # r10
    "dq_constraints",  # r10
    "scan_partition_pruned",  # r10
    "basket_rules",  # r10
    "agg_skyline",  # r10
    "win_streak",  # r10
    "ts_interpolate",  # r10
    "text_diversity",  # r10
    "sample_poisson",  # r10
    "events_overlap_matrix",  # r10
    "curate_domain_balance",  # r10
    "events_forecast_snaive",  # r10
    "orders_cohort_ltv",  # r10
    "sub_division",  # r10
    "agg_string_agg",  # r10
    "fn_hash",  # r10
    "events_seasonality",  # r10
    "dedup_prefix",  # r10
    "graph_neighbor_jaccard",  # r10
    "scan_nested_json",  # r10
    "fn_regex",  # r10
    "agg_weighted",  # r10
    "sample_negatives",  # r10
    "events_trigram_paths",  # r10
    "events_burstiness",  # r10
    "ts_autocorr",  # r10
    "orders_fulfillment_lag",  # r10
    "text_k_anonymity",  # r10
    "sample_temperature",  # r10
    "dedup_url",  # r10
    "ts_drawdown",  # r10
    "events_stickiness",  # r10
    "stream_topk",  # r10
    "join_asof_nearest",  # r10
    "dq_drift",  # r10
    "embed_outliers",  # r10
    "join_asof_tolerance",  # r10
    "events_concurrency",  # r10
    "orders_market_share",  # r10
    "dq_freshness",  # r10
    "events_bounce",  # r10
    "ts_mad_anomaly",  # r10
    "geo_cell_join",  # r11
    "fn_ip_cidr",  # r11
    "agg_chi_square",  # r11
    "events_wilson_ctr",  # r11
    "win_rolling_corr",  # r11
    "text_heaps_law",  # r11
    "geo_bbox_join",  # r11
    "text_source_drift",  # r11
    "win_rsi",  # r11
    "ts_ljung_box",  # r11
    "ts_kendall_tau",  # r11
    "sample_neyman_alloc",  # r11
    "events_welch_ttest",  # r11
    "agg_median_ci_bootstrap",  # r11
    "dedup_cdc_chunks",  # r11
    "sample_ess_audit",  # r11
    "text_novelty",  # r11
    "sim_mutual_knn",  # r11
    "embed_pq",  # r11
    "ts_mann_kendall",  # r11
    "text_template_prefix",  # r11
    "multimodal_phash",  # r11
    "multimodal_phash_pairs",  # r11
    "agg_benford",  # r11
    "dedup_bloom",  # r11
    "events_session_hist",  # r11
    "orders_abc_class",  # r11
    "events_new_vs_returning",  # r11
    "text_readability",  # r11
    "graph_sssp_weighted",  # r11
    "orders_hhi",  # r11
    "dq_embed_drift",  # r11
    "dedup_recall_eval",  # r11
    "graph_assortativity",  # r11
    "curate_funnel_report",  # r11
    "orders_customer_migration",  # r11
    "events_lateness_profile",  # r11
    "sample_group_holdout",  # r11
    "sim_ivf_balance",  # r11
    "dedup_cluster_stats",  # r11
    "graph_clustering_coeff",  # r11
    "events_conversion_lag",  # r11
    "fn_surrogate_key",  # r11
    "orders_backlog",  # r11
    "graph_link_predict",  # r11
    "ts_changepoint",  # r11
    "sample_time_split",  # r11
    "curate_canonical",  # r11
    "agg_winsorized_mean",  # r11
    "win_rolling_regression",  # r12
    "sample_balanced",  # r12
    "ts_decompose",  # r12
    "dedup_threshold_sweep",  # r12
    "graph_modularity",  # r12
    "win_ohlc_bars",  # r12
    "orders_reorder_rate",  # r12
    "events_hazard_rate",  # r12
    "graph_random_walk",  # r12
    "table_fingerprint",  # r12
    "dq_referential_integrity",  # r12
    "win_cusum_chart",  # r12
    "join_pit_scd2",  # r12
    "dedup_band_tuning",  # r12
    "events_did",  # r12
    "sample_kfold",  # r12
    "scan_txn_log",  # r12
    "graph_ego_features",  # r12
    "orders_margin_waterfall",  # r12
    "events_incidents",  # r12
    "orders_supplier_scorecard",  # r12
    "tokenize_truncation_audit",  # r12
    "stream_ohlc",  # r12
    "text_rake_keyphrases",  # r12
    "ts_densify",  # r12
    "text_lang_confusion",  # r12
    "agg_weighted_percentile",  # r12
    "events_decay_attribution",  # r12
    "scan_mor_deletes",  # r12
    "events_slo_burn",  # r12
    "dedup_agreement",  # r12
    "orders_aging_wip",  # r12
    "embed_separability",  # r12
    "fn_fiscal_calendar",  # r12
    "orders_pvm_variance",  # r12
    "set_except_all",  # r12
    "sample_smote_midpoints",  # r12
    "events_bot_flags",  # r12
    "events_srm_check",  # r12
    "win_mtd_ytd",  # r12
    "text_code_detection",  # r12
    "sim_nprobe_sweep",  # r12
    "orders_xyz_class",  # r12
    "sample_class_weights",  # r12
    "events_growth_accounting",  # r12
    "sample_hard_negatives",  # r12
    "win_yoy_compare",  # r12
    "agg_tukey_fences",  # r12
    "dedup_minhash_estimate",  # r12
    "text_vocab_overlap",  # r12
    "orders_returns_rate",  # r13
    "sub_not_in_null",  # r13
    "win_change_runs",  # r13
    "events_cuped",  # r13
    "events_mann_whitney",  # r13
    "graph_connected_components",  # r13
    "events_ks_test",  # r13
    "agg_gini",  # r13
    "ts_cross_correlation",  # r13
    "events_sample_size",  # r13
    "sample_shard_assign",  # r13
    "sim_ann_lsh",  # r13
    "agg_ratio_pin",  # r13
    "embed_pca_power",  # r13
    "agg_percentile_hist",  # r13
    "join_existence",  # r13
    "events_velocity_flags",  # r13
    "orders_interval_merge",  # r13
    "dq_header_detail",  # r13
    "multimodal_batch_plan",  # r13
    "embed_matryoshka_eval",  # r13
    "win_percent_of_parent",  # r13
    "dq_join_fanout",  # r13
    "win_topn_ties",  # r13
    "graph_hits",  # r13
    "text_feature_hashing",  # r13
    "agg_ols_multi",  # r13
    "win_vwap",  # r13
    "set_union_by_name",  # r13
    "sim_rrf_fusion",  # r13
    "agg_bitmap_intersect",  # r13
    "scan_csv_multiline",  # r13
    "join_anti_range",  # r13
    "fn_luhn_check",  # r13
    "ts_theil_sen",  # r13
    "ts_runs_test",  # r13
    "dq_duplicate_billing",  # r13
    "win_bollinger",  # r13
    "fn_codecs",  # r13
    "graph_label_propagation",  # r13
    "text_vocab_mass_ladder",  # r13
    "ts_ema_crossover",  # r13
    "sample_curriculum",  # r13
    "scan_txn_time_travel",  # r13
    "fn_snowflake_decode",  # r13
    "graph_pagerank_personalized",  # r13
    "orders_perfect_rate",  # r13
    "win_gap_to_leader",  # r13
    "events_weekend_lift",  # r13
    "sink_dynamic_overwrite",  # r13
    "events_peak_days",  # r14
    "orders_rank_stability",  # r14
    "tokenize_padding_waste",  # r14
    "win_drawdown_duration",  # r14
    "multimodal_audio_stats",  # r14
    "multimodal_phash_clusters",  # r14
    "multimodal_audio_vad",  # r14
    "multimodal_image_stats",  # r14
    "multimodal_scene_changes",  # r14
    "join_range_partitioned",  # r14
    "tokenize_fertility",  # r14
    "curate_quality_gate_sweep",  # r14
    "geo_knn_join",  # r14
    "scan_mor_positional",  # r14
    "stream_range_join",  # r14
    "embed_isotropy",  # r14
    "scan_zorder_pruned",  # r14
    "udtf_map_in_arrow",  # r14
    "agg_hll_portable",  # r14
    "agg_kmv_distinct",  # r14
    "win_time_weighted_avg",  # r14
    "sample_weighted_priority",  # r14
    "scan_delete_vector",  # r14
    "kmeans_init_parallel",  # r14
    "agg_theta_intersect",  # r14
    "graph_bipartite_projection",  # r14
    "fn_soundex",  # r14
    "scan_incremental_read",  # r14
    "orders_revenue_recognition",  # r14
    "dq_key_discovery",  # r14
    "geo_point_in_polygon",  # r14
    "scan_python_datasource",  # r14
    "dq_observe_inline",  # r14
    "sink_exactly_once",  # r14
    "events_alert_debounce",  # r14
    "multimodal_audio_resample",  # r14
    "join_aqe_runtime_broadcast",  # r14
    "tpch_q1",  # r14
    "udtf_lateral_python",  # r14
    "fn_variant",  # r14
    "text_compression_ratio",  # r14
    "multimodal_resize",  # r14
    "udtf_python_arrow",  # r14
    "dedup_minhash",  # r14
    "dedup_clusters",  # r14
    "dedup_simhash",  # r14
    "sim_ann_ivf",  # r14
    "pack_sequences",  # r14
    "curate_corpus",  # r14
    "sample_stratified",  # r14
    "text_repetition",  # r15
    "kmeans_assign",  # r15
    "tpch_q3",  # r15
    "tpch_q6",  # r15
    "udf_scalar_pandas",  # r15
    "join_cross_argmin",  # r15
    "fn_math",  # r15
    "fn_array",  # r15
    "scan_csv",  # r15
    "scan_orc",  # r15
    "sink_partitioned",  # r15
    "project_select",  # r15
    "scan_parquet",  # r15
    "filter_pred",  # r15
    "lateral_explode",  # r15
    "sample_hash",  # r15
    "join_broadcast",  # r15
    "join_semi",  # r15
    "join_anti",  # r15
    "sort_limit",  # r15
    "topk_per_group",  # r15
    "set_union",  # r15
    "set_intersect",  # r15
    "set_except",  # r15
    "fn_string",  # r15
    "fn_date",  # r15
    "sub_exists",  # r15
    "sub_scalar",  # r15
    "sub_in",  # r15
    "dedup_ngram_jaccard",  # r15
    "events_retention",  # r15
    "sub_recursive",  # r15
    "kmeans_fit",  # r15
    "multimodal_decode",  # r15
    "sim_topk",  # r15
    "agg_hash",  # r15
    "stream_sliding",  # r15
    "stream_stream_join",  # r15
    "multimodal_decode_meta",  # r15
    "tpch_q5",  # r15
    "join_dpp",  # r15
    "win_argmin",  # r15
    "udtf_apply_in_pandas",  # r15
    "text_tokenize_tfidf",  # r15
    "join_asof",  # r15
    "scan_json",  # r15
    "fn_json",  # r15
    "stream_session",  # r15
    "stream_dedup",  # r15
    "stream_stateful",  # r15
]


def ordered_specs() -> dict[str, QuerySpec]:
    """Registry in driver presentation order (DRIVER_ORDER first, any
    unlisted registrations appended alphabetically so nothing is ever
    silently dropped)."""
    specs = load_all_queries()
    ordered = [n for n in DRIVER_ORDER if n in specs]
    ordered += sorted(n for n in specs if n not in DRIVER_ORDER)
    return {n: specs[n] for n in ordered}


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query/operator module (triggering registration) and
    return the registry."""
    # Imports are deferred so `import nchu_bigdata_spark` stays cheap and
    # circular imports are impossible.
    from nchu_bigdata_spark import queries as _q  # noqa: F401
    from nchu_bigdata_spark import operators as _o  # noqa: F401

    return REGISTRY
