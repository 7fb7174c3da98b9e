"""Benchmark harness: runs the benched queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The bench runs every ``queries()`` entry not in ``OFF_BENCH``, in
``queries()`` order. Each executes end-to-end through the noop sink —
full plan execution (scan → shuffle → agg) without driver-side
collection, so timings measure the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import time

import __spark_entry__ as entrymod
from fsc_etl_spark.plans import streaming_queries
from fsc_etl_spark.session import get_spark

#: Registered queries left off the bench, each with the reason: most
#: re-time a physical shape a benched query already measures.
OFF_BENCH = {
    **dict.fromkeys(
        streaming_queries.QUERIES,
        "streaming: micro-batch setup and checkpoint dirs time the harness, not the engine",
    ),
    "weighted_priority_sample": "md5 + token-count projection into a TakeOrdered heap: the global_topk_orders shape",
    "graph_conductance": "community_modularity's pair expansion, LPA rounds and label joins; only the readout differs",
    "weak_label_agreement": "one token-count projection into a 1-row agg: the text_token_stats scan",
    "user_trend_slope_pandas": "pandas twin of user_trend_slope; scripts/twin_sweep.py checks they agree",
    "ntile_customer_deciles": "the same plan as decile_bucket_scalable",
    "dedup_cluster_assign_star": "twin of dedup_cluster_assign's pair generation and clustering",
    "embed_knn_audit_trained": "embed_semdedup_trained's training plus embed_knn_label_audit's windows",
    "embed_ann_recall_matrix": "the five ANN tiers and the exact-cosine shape plus a 25-row semi join",
    "ivf_nprobe_recall_curve": "five settings of embed_ivf_pinned_topk plus the exact-cosine shape",
    "ivf_cell_balance": "kmeans_cluster_stats' Lloyd training plus embed_semdedup_prune's assignment scan",
    "embed_hard_negatives": "the embed_cosine_topk shape with a label predicate",
    "bpe_pair_counts": "bigram_topk's two-phase count with a vocab-bounded second explode",
    "lang_pred_quality": "the lang_id_heuristic scan plus three |langs|-row aggregations",
    "dup_span_trim_stats": "shuffles on dup_span_stats' seg_hash key, a window instead of a count",
    "training_mix_manifest": "composes five gates that are benched one by one",
    "embed_int8_quant_stats": "one scalar agg and map-side transforms: the embed_truncate_norms shape",
    "embed_kcenter_coreset": "driver-paced TakeOrdered rounds: the embed_mmr_select shape",
    "cluster_soft_dedup_sample": "dedup_cluster_assign's clustering plus one keyed count",
    "daily_value_autocorr": "the hourly_event_rollup scan and agg; the lag join runs over a |types|x|days| frame",
    "psi_value_drift": "the value_drift_buckets (type, bucket) counts, scored over |types|x10 rows",
    "graph_seed_ball_sizes": "frontier-join BFS rounds of bfs_hops_copurchase over 20 seeds",
    "graph_adamic_adar": "graph_common_neighbors' pair expansion and heap with a weight lookup",
    "ktruss_coparts": "8 peel rounds of triangle_count_coparts' enumeration",
    "rrf_fused_topk": "bm25_topk_docs and embed_cosine_topk composed with a 50x50 join",
    "gopher_quality_flags": "per-row token-array expressions: the text_quality scan",
    "quality_calibration_bins": "decile_bucket_scalable's histogram over a docs-sized input",
    "embed_matryoshka_recall": "two passes of the embed_cosine_topk shape plus a 10x10 join",
    "bm25_prf_expansion": "bm25_topk_docs and tfidf_top_terms' df shuffle, composed",
    "embed_power_iteration": "embed_covariance_topk's d×d moment reduction plus an O(d²) driver loop",
    "ccnet_ppl_buckets": "bigram_lm_perplexity's scoring and exact_quantiles_scalable's pick, composed",
    "retrieval_ndcg_mrr": "the embed_cosine_topk ranking plus 50-row metric joins",
    "zipf_rank_frequency": "bigram_topk's frequency shuffle and heap; the 1000-row fit is constant",
    "source_length_drift": "two |sources|x20-row aggs and a broadcast join",
    "tokenizer_fertility_stats": "one scan plus a |langs|-row agg: the lang_pred_quality shape",
    "minhash_jaccard_accuracy": "incremental_lsh_dedup's pair generation and exact verify",
    "stratified_sample_exact": "reservoir_sample_per_source's rank window plus a |strata|-row allocation",
}

ALL_QUERIES = entrymod.queries()
BENCH_QUERIES = [name for name in ALL_QUERIES if name not in OFF_BENCH]


def run_query(spark, name: str, sf_dir: str) -> float:
    fn = ALL_QUERIES[name]
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # Host 1-min loadavg at start and end: every total carries its noise context.
    load1 = [round(os.getloadavg()[0], 1)]
    spark = get_spark(app_name="fsc_etl_spark_bench")
    # One untimed run of the cheapest query takes JVM/codegen startup
    # out of the per-query numbers.
    run_query(spark, "q1_pricing_summary", sf_dir)

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        # Clean slate per query, so earlier caches cannot evict this one's.
        spark.catalog.clearCache()
        timings[name] = round(run_query(spark, name, sf_dir), 4)

    total = round(sum(timings.values()), 3)
    load1.append(round(os.getloadavg()[0], 1))
    head = {"metric": "headline_queries_total", "value": total, "unit": "sec"}
    # stdout is read from a ~2000-char tail, so the line carries the
    # slowest 40 queries; bench_full.json beside this script has them all.
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:40]
    line = json.dumps(
        {**head, "queries": {k: round(v, 2) for k, v in slowest}, "sf": sf,
         "n_queries": len(timings), "load1": load1},
        separators=(",", ":"),
    )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    with open(full_path, "w") as f:
        json.dump({**head, "queries": timings, "sf": sf, "load1": load1}, f, indent=1, sort_keys=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
