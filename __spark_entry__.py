"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()`` and
``oracle_sql()`` expose the full registry from ``rtcdb_spark.queries`` — one
entry per implemented operator from SURVEY.md §2, each checked against the
DuckDB oracle at sf0.01 by the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rtcdb_spark.queries import REGISTRY

# The driver samples the first 50 entries of ``queries()``. Policy: keep
# >=1 flagship per operator family there, favouring rows the driver has
# not yet confirmed; the rest of the registry follows in registration order.
_PRIORITY = [
    "q1_pricing_summary", "scan_filter_project", "source_db_api_roundtrip",
    "source_rtcdb_string_scan", "source_delta_alter_columns",
    "source_delta_merge_identity", "source_delta_cdf_mixed_derive",
    "agg_approx_count_distinct", "agg_hll_sketch_union",
    "agg_percentiles_approx", "join_asof_nearest", "set_except_all",
    "window_running_frames", "stream_window_session",
    "stream_dedup_near_simhash_unordered", "text_bpe_tokenize", "dedup_exact",
    "similarity_pq_topk", "multimodal_mp3_bitstream_decode",
    "stream_delta_backfill_files", "events_peak_concurrency",
    "profile_columns", "dedup_connected_groups", "dedup_materialize_survivors",
    "dedup_prefix_filter_pairs", "dedup_rate_by_source", "text_fingerprint",
    "text_repetition_quality", "text_chunk_overlap", "text_oov_rate",
    "text_compression_ratio", "events_bot_cadence_detect",
    "events_json_schema_profile", "orders_ks_drift_test",
    "orders_seasonal_naive_backtest", "timeseries_stl_decompose",
    "join_bloom_prefilter", "join_fuzzy_levenshtein", "fn_bitwise",
    "fn_datetime_intervals", "window_topk_per_group", "window_sliding",
    "graph_degree_distribution", "graph_degree_assortativity", "agg_mode",
    "agg_corr_regression", "versioned_time_travel",
    "versioned_optimize_compact", "multimodal_audio_silence_trim",
    "multimodal_jpeg_420_restart",
]


def _ordered_names() -> list[str]:
    head = [n for n in _PRIORITY if n in REGISTRY]
    seen = set(head)
    return head + [n for n in REGISTRY if n not in seen]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    return REGISTRY["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted for non-SQL-expressible ops."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
