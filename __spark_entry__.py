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
    retrieval_quality,
    scale_ops,
    spark4_ops,
    streaming_queries,
    tpch_more,
    tpch_partsupp,
    training_data,
)
from fsc_etl_spark.plans.corpus_stats import CORPUS_ORACLES
from fsc_etl_spark.plans.retrieval_quality import RETRIEVAL_ORACLES
from fsc_etl_spark.plans.analytics_ext import EXT_ORACLES
from fsc_etl_spark.plans.analytics_more import MORE_ORACLES
from fsc_etl_spark.plans.oracles import ORACLES
from fsc_etl_spark.plans.oracles_training import TRAINING_ORACLES
from fsc_etl_spark.plans.streaming_queries import STREAMING_ORACLES
from fsc_etl_spark.plans.tpch_more import TPCH_ORACLES
from fsc_etl_spark.plans.tpch_partsupp import PARTSUPP_ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §2.12.

    Ordered so a prefix sample covers the whole surface: the driver
    checks roughly the first 50 entries. ROUND-13 ROTATION (VERDICT
    r12 #1/#2): the window leads with the one query whose runtime
    behavior changed this round — `graph_common_neighbors` (eager-
    checkpoint-then-unpersist cache lifecycle, the builder's own r13
    TODO; results unchanged) — then the nine round-13 debuts
    (community_modularity, weighted_priority_sample, and the
    mid-round batch graph_conductance + local_clustering_coeff +
    sorted_neighborhood_pairs + maxsim_late_interaction +
    basket_triple_support + weak_label_agreement +
    streaming_priority_sample), then the
    staleness backlog oldest first: the 6 r3-vintage rows
    (timeseries_locf, token_vocab_topk, user_funnel,
    user_trend_slope_pandas, window_frames_breadth, zorder_key_demo —
    the oldest driver rows anywhere after r12), the 35 r5-vintage
    rows and 6 of the 7 r6-vintage rows in alphabetical order. After
    r13 the oldest driver rows anywhere are vocab_coverage_stats (r6,
    the displaced alphabetical tail) and the 19 r7-vintage rows —
    they lead the r14 window. (Outside operators.cache.plan_only, the
    fingerprint context, the one-shot eager builders run as before, so
    only graph_common_neighbors, whose cache release was new, needed
    re-verification.)
    Keep tests/test_entry_contract.py's prefix-pin test in sync: it
    derives the never-sampled set from committed CORRECTNESS_r*.json
    automatically.
    """
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(analytics.QUERIES)
    merged.update(analytics_ext.QUERIES)
    merged.update(analytics_more.QUERIES)
    merged.update(tpch_more.QUERIES)
    merged.update(tpch_partsupp.QUERIES)
    merged.update(training_data.QUERIES)
    merged.update(streaming_queries.QUERIES)
    merged.update(scale_ops.QUERIES)
    merged.update(graph_ops.QUERIES)
    merged.update(spark4_ops.QUERIES)
    merged.update(incremental.QUERIES)
    merged.update(retrieval_quality.QUERIES)
    merged.update(corpus_stats.QUERIES)

    priority = [
        # --- runtime behavior changed this round (r13): eager-
        # checkpoint-then-unpersist cache lifecycle (the r12 pattern)
        # applied to the leaked pair cache (VERDICT r12 #2); results
        # unchanged, re-verified here ---
        "graph_common_neighbors",
        # --- round-13 debuts (no driver rows yet): Newman modularity
        # of the LPA communities over the co-parts graph; deterministic
        # priority sampling (Ohlsson/Duffield weighted top-k draw) ---
        "community_modularity",
        "weighted_priority_sample",
        # --- round-13 mid-round debuts: per-community conductance
        # (the cut-quality twin of modularity over the same LPA
        # partition) and the local-clustering-coefficient histogram
        # (node-resolved triangle census) ---
        "graph_conductance",
        "local_clustering_coeff",
        "sorted_neighborhood_pairs",
        "maxsim_late_interaction",
        "basket_triple_support",
        "weak_label_agreement",
        "streaming_priority_sample",
        # --- staleness rotation (VERDICT r12 #1): the 6 r3-vintage
        # rows — the oldest driver rows anywhere after r12 ---
        "timeseries_locf",
        "token_vocab_topk",
        "user_funnel",
        "user_trend_slope_pandas",
        "window_frames_breadth",
        "zorder_key_demo",
        # --- staleness rotation: the r5-vintage generation, oldest
        # 34 of 35 alphabetically (xml_roundtrip_stats ceded to the
        # ninth debut) ---
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
        # (xml_roundtrip_stats — the last r5 row alphabetically — plus
        # the full r6 generation (dpp_pruned_rollup,
        # incremental_join_maintenance, kmeans_cluster_stats,
        # orc_roundtrip_stats, pit_feature_join, segment_dedup_mask,
        # vocab_coverage_stats) and the 19 r7-vintage rows lead the
        # r14 window; they ceded slots to the nine r13 debuts)
    ]
    if len(priority) != 50:  # contract check — not an assert: survives python -O
        raise ValueError(f"driver window must be exactly 50, got {len(priority)}")
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in priority:
        out[name] = merged[name]
    for name, fn in merged.items():
        out.setdefault(name, fn)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() entry (keys without an
    oracle get the driver's weaker rows-only check)."""
    # Fixture-trained oracles (Lloyd replications) are generated
    # lazily here, not at module import (ADVICE r7).
    from fsc_etl_spark.plans.oracles_training import ensure_trained_oracles

    ensure_trained_oracles()
    return {
        **ORACLES,
        **EXT_ORACLES,
        **MORE_ORACLES,
        **TPCH_ORACLES,
        **PARTSUPP_ORACLES,
        **TRAINING_ORACLES,
        **STREAMING_ORACLES,
        **scale_ops.SCALE_ORACLES,
        **RETRIEVAL_ORACLES,
        **graph_ops.GRAPH_ORACLES,
        **spark4_ops.SPARK4_ORACLES,
        **incremental.INCREMENTAL_ORACLES,
        **CORPUS_ORACLES,
    }
