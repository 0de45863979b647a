"""Query catalog: importing this package populates the registry."""

from real_time_big_data_iot_monitoring_pipeline_spark.plans import reference_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import streaming_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import northstar_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import pipeline_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import join_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import extension_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import skew_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import staged_oracle_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import olap_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import analytics_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import storage_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import mlprep_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import incremental_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import sketch_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import behavior_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import matching_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import connector_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import engine_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans import evaluation_queries  # noqa: F401  isort:skip
from real_time_big_data_iot_monitoring_pipeline_spark.plans.registry import REGISTRY, Query, register

# The driver's correctness gate hashes the FIRST 50 registry entries, in
# `queries()` iteration order.  The window below makes that ordering
# explicit instead of an import-order side effect.  Oracle queries outside
# it are checked by tests/test_oracle_parity.py whenever their code changes.
DRIVER_WINDOW: tuple[str, ...] = (
    "flagship_window_agg",
    "pyds_clone_vacuum_isolation",
    "stream_offset_cursor_audit",
    "curation_pipeline",
    "dedup_components",
    "dedup_minhash_portable",
    "dedup_ngram_jaccard",
    "dedup_simhash_portable",
    "elapsed_seconds_feature",
    "embedding_norm_stats",
    "json_props_stats",
    "regression_quality_gate",
    "resample_gap_fill",
    "rollup_type_user",
    "sessionize_events",
    "tfidf_top_terms",
    "embedding_ivf_multiprobe_topk",
    "grouped_percentiles",
    "histogram_equidepth",
    "join_dim_broadcast",
    "join_star_revenue",
    "outer_join_order_counts",
    "pricing_summary",
    "range_join_price_bands",
    "resample_interpolate",
    "returned_items_report",
    "revenue_filter_agg",
    "rolling_median_smooth",
    "salted_join_brand_revenue",
    "salted_type_stats",
    "text_fingerprint",
    "text_lang_id",
    "text_normalize",
    "text_quality_score",
    "text_repetition_ratio",
    "text_token_stats",
    "top_customers_by_revenue",
    "unigram_logprob_score",
    "unshipped_orders_topk",
    "volume_shipping",
    "acctbal_relative_standing",
    "bigram_logprob_score",
    "bucketed_join_revenue",
    "bucketed_key_lookup",
    "cms_heavy_hitters",
    "cohort_retention",
    "corpus_chunk_overlap",
    "corpus_pack_sequences",
    "corpus_sample_mixture",
    "customer_order_gap_stats",
)


def ordered_registry() -> dict[str, Query]:
    """REGISTRY with the driver window first (positions 0-49), then every
    remaining query in registration order."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW), "duplicate names in DRIVER_WINDOW"
    assert len(DRIVER_WINDOW) == 50, f"driver window must be exactly 50, got {len(DRIVER_WINDOW)}"
    out = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    out.update({n: q for n, q in REGISTRY.items() if n not in out})
    return out


__all__ = [
    "REGISTRY",
    "Query",
    "register",
    "DRIVER_WINDOW",
    "ordered_registry",
]
