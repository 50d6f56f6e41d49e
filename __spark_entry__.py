"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` /
``oracle_sql()`` enumerate every implemented operator from
SURVEY.md §2 with its DuckDB oracle.  Implementations live in
``rakam_api_spark``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rakam_api_spark.analytics import cdf_queries as _cdf
from rakam_api_spark.analytics import enrichment_queries as _enrich
from rakam_api_spark.analytics import events as _events
from rakam_api_spark.analytics import events2 as _events2
from rakam_api_spark.analytics import events3 as _events3
from rakam_api_spark.analytics import events4 as _events4
from rakam_api_spark.analytics import events5 as _events5
from rakam_api_spark.analytics import events6 as _events6
from rakam_api_spark.analytics import relational as _relational
from rakam_api_spark.analytics import relational2 as _relational2
from rakam_api_spark.analytics import relational3 as _relational3
from rakam_api_spark.analytics import relational4 as _relational4
from rakam_api_spark.analytics import relational5 as _relational5
from rakam_api_spark.analytics import relational6 as _relational6
from rakam_api_spark.analytics import relational7 as _relational7
from rakam_api_spark.llm import curation as _curation
from rakam_api_spark.llm import dedup as _dedup
from rakam_api_spark.llm import dedup_index as _dedup_index
from rakam_api_spark.llm import multimodal as _multimodal
from rakam_api_spark.llm import search as _search
from rakam_api_spark.llm import similarity as _similarity
from rakam_api_spark.llm import text as _text
from rakam_api_spark.llm import text2 as _text2
from rakam_api_spark.llm import text3 as _text3
from rakam_api_spark.llm import vectors as _vectors
from rakam_api_spark.streaming import windows as _windows

_MODULES = (
    _relational,
    _relational2,
    _relational3,
    _relational4,
    _relational5,
    _relational6,
    _relational7,
    _events,
    _events2,
    _events3,
    _events4,
    _events5,
    _events6,
    _enrich,
    _cdf,
    _windows,
    _dedup,
    _dedup_index,
    _similarity,
    _text,
    _text2,
    _text3,
    _vectors,
    _curation,
    _multimodal,
    _search,
)

# The driver's correctness gate checks at most 50 queries per round, in
# enumeration order, so the order leads with what the latest change
# touched:
# (a) the five queries served from a store-built warehouse (change
#     feed, materialized views, commit history), now that every
#     collection is transaction-logged;
# (b) the declared queries whose shared kernels moved into the session
#     artifact registry (rakam_api_spark.artifacts) and the queries that
#     read those artifacts (19);
# (c) the previous rotation's order (the round-14 additions, then the
#     stalest gate-checked cohorts), minus the queries (a) moved up.
# Everything listed passes tools/check_correctness.py at sf0.01 and
# sf0.001.
_GATE_PRIORITY = (
    # (a) store-backed queries
    "table_changes_rollup",
    "matview_incremental_rollup",
    "matview_rows_grain_read",
    "table_changes_since_timestamp",
    "table_history_audit",
    # (b) session-artifact kernels and their consumers
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_brute_force_topk",
    "embedding_cosine_dedup",
    "dup_span_extents",
    "lsh_band_efficiency",
    "dedup_clusters",
    "dedup_survivor_selection",
    "dup_cluster_lang_purity",
    "cluster_safe_splits",
    "ann_recall_audit",
    "ivf_nprobe_recall_curve",
    "knn_purity_at_k",
    "crosslingual_mining",
    "span_dedup_savings",
    "dedup_precision_audit",
    "dedup_transitivity_audit",
    "dedup_threshold_curve",
    "lang_profile_confusion",
    # (c) previous rotation
    "priority_escalation_matrix",
    "part_substitution_candidates",
    "order_value_theil_by_segment",
    "weekday_revenue_share_drift",
    "brand_supplier_concentration",
    "ship_gap_bands_by_priority",
    "realized_vs_retail_by_discount",
    "supplier_nation_price_advantage",
    "brand_quarter_share_shift",
    "type_affinity_lift",
    "retention_powerlaw_fit",
    "value_winsorized_means_by_type",
    "first_last_type_agreement",
    "user_weekly_cv_bands",
    "daily_count_dispersion_by_type",
    "session_entry_hour_conversion",
    "event_value_pareto_by_type",
    "stopword_density_bands",
    "sentence_length_percentiles_by_lang",
    "readability_composite_by_source",
    "char_trigram_oov_by_source",
    "label_silhouette_proxy",
    "embedding_norm_percentiles_by_label",
    "dimension_variance_topk",
    "window_value_quantiles",
    "window_type_churn",
    "session_entry_exit",
    "sparse_tfidf_pairs",
    "text_quality",
    "theta_segment_setops",
    "token_counts",
    "top_customers",
    "training_shuffle",
    "ab_test_lift",
    "ann_filtered_ivf_topk",
    "attribution_time_decay",
    "big_ticket_orders",
    "cheapest_order_per_customer_sql",
    "cohort_ltv",
    "customer_order_stats",
    "customers_no_recent_orders",
    "daily_anomaly_zscore",
    "daily_value_moving_avg",
    "dau",
    "engaged_user_days_setops",
    "enrich_geoip",
    "enrich_useragent",
    "event_type_hourly_share",
    "funnel_signup_click_purchase",
    "funnel_step_latency",
    "funnel_windowed_24h",
    "inter_event_time_quantiles",
    "late_sole_supplier",
    "media_resize_stats",
    "order_rank_in_customer",
    "orders_cube",
    "orders_rollup",
    "part_value_concentration",
    "props_variant_stats",
    "q4_order_priority",
    "q6_forecast_revenue",
    "retention_cohorts",
    "revenue_grouping_sets_sql",
    "seg_daily_event_counts",
    "sessionization_stats",
    "source_vocab_overlap",
    "time_to_convert",
    "top_event_paths",
    "top_event_values",
    "user_metric_correlation",
    "user_profile_snapshot",
    "value_percentiles",
    "hybrid_search",
    "semantic_contamination",
    "attribution_position_based",
    "benford_price_audit",
    "contamination_check",
    "corpus_top_ngrams",
    "curation_funnel",
    "customer_order_streaks",
    "daily_new_vs_returning",
    "data_quality_audit",
    "dedup_cluster_size_histogram",
    "dedup_savings_by_source",
    "discount_elasticity_by_priority",
    "doc_chunking",
    "doc_prefix_duplication",
    "doc_typicality",
    "embedding_cluster_profile",
    "embedding_label_outliers",
    "embedding_norm_audit",
    "event_burstiness",
    "ivf_cell_balance",
    "label_centroid_similarity",
    "nation_trade_balance",
    "order_gap_stats",
    "order_priority_drift",
    "order_survival_curve",
    "orders_seasonality_index",
    "part_price_index_quarterly",
    "q7_nation_volume",
    "running_revenue_share",
    "session_depth_distribution",
    "supplier_hhi",
    "supplier_late_streaks",
    "zipf_slope_by_source",
)


def _prioritized(mapping: dict) -> dict:
    out = {k: mapping[k] for k in _GATE_PRIORITY if k in mapping}
    out.update((k, v) for k, v in mapping.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: segmentation over
    the events stream (daily counts/uniques per event type)."""
    return _events.seg_daily_event_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return _prioritized(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return _prioritized(out)
