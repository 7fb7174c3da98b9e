"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship scan-agg (TPC-H Q1 shape) at
sf0.001. ``queries()`` exposes every implemented operator from
SURVEY.md §2 / §2.12 as (spark, sf_dir) -> DataFrame callables;
``oracle_sql()`` gives each one's DuckDB-runnable ANSI-SQL twin with
identical column names and final types (see plans/oracles.py for the
determinism rules: exact-decimal accumulation, explicit casts,
tie-broken orderings).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from fsc_etl_spark.plans import (
    analytics,
    analytics_ext,
    analytics_more,
    corpus_stats,
    graph_ops,
    incremental,
    oracles,
    oracles_training,
    retrieval_quality,
    scale_ops,
    spark4_ops,
    streaming_queries,
    tpch_more,
    tpch_partsupp,
    training_data,
)

#: Each plan module with its oracle table, in registry order. A
#: module's ``QUERIES`` keys are the names its oracle table answers;
#: the fixture-trained entries come from
#: ``oracles_training.SF_ORACLE_GENERATORS`` when ``oracle_sql()`` runs.
MODULES = (
    (analytics, oracles.ORACLES),
    (analytics_ext, analytics_ext.EXT_ORACLES),
    (analytics_more, analytics_more.MORE_ORACLES),
    (tpch_more, tpch_more.TPCH_ORACLES),
    (tpch_partsupp, tpch_partsupp.PARTSUPP_ORACLES),
    (training_data, oracles_training.TRAINING_ORACLES),
    (streaming_queries, streaming_queries.STREAMING_ORACLES),
    (scale_ops, scale_ops.SCALE_ORACLES),
    (graph_ops, graph_ops.GRAPH_ORACLES),
    (spark4_ops, spark4_ops.SPARK4_ORACLES),
    (incremental, incremental.INCREMENTAL_ORACLES),
    (retrieval_quality, retrieval_quality.RETRIEVAL_ORACLES),
    (corpus_stats, corpus_stats.CORPUS_ORACLES),
)

#: The driver oracle-checks the first 50 queries() entries; these
#: names lead, and the rest follow in registry order.
DRIVER_WINDOW = (
    "graph_common_neighbors",
    "community_modularity",
    "weighted_priority_sample",
    "graph_conductance",
    "local_clustering_coeff",
    "sorted_neighborhood_pairs",
    "maxsim_late_interaction",
    "basket_triple_support",
    "weak_label_agreement",
    "streaming_priority_sample",
    "timeseries_locf",
    "token_vocab_topk",
    "user_funnel",
    "user_trend_slope_pandas",
    "window_frames_breadth",
    "zorder_key_demo",
    "audio_clip_stats",
    "audio_downsample_stats",
    "bfs_hops_copurchase",
    "bigram_lm_quality",
    "binary_file_ingest",
    "chunk_overlap_docs",
    "embed_dim_median_stats",
    "ewma_user_value",
    "file_provenance_stats",
    "holt_user_forecast",
    "inverted_index_stats",
    "json_roundtrip_stats",
    "k_anonymity_audit",
    "lateral_topk_orders",
    "merge_schema_read",
    "mixture_temperature_sample",
    "nested_roundtrip_stats",
    "padding_waste_stats",
    "pagerank_dangling_redistribute",
    "pagerank_weighted_copurchase",
    "partition_backfill_rewrite",
    "pmi_top_bigrams",
    "recursive_ancestor_depth",
    "session_window_stats",
    "shuffle_hash_join_stats",
    "skyline_orders",
    "sql_scripting_trimmed_mean",
    "streaming_media_ingest",
    "table_checksum_buckets",
    "table_profile_stats",
    "udtf_ngram_topk",
    "value_anomaly_events",
    "value_drift_buckets",
    "variant_props_stats",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: the driver window first, then the
    remaining ``QUERIES`` entries of each module in ``MODULES`` order."""
    if len(DRIVER_WINDOW) != 50:  # contract check — not an assert: survives python -O
        raise ValueError(f"driver window must be exactly 50, got {len(DRIVER_WINDOW)}")
    merged = {name: fn for module, _ in MODULES for name, fn in module.QUERIES.items()}
    return {name: merged[name] for name in DRIVER_WINDOW} | merged


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry. The
    fixture-trained entries are generated here on first call, not at
    import."""
    oracles_training.ensure_trained_oracles()
    return {name: sql for _, table in MODULES for name, sql in table.items()}
