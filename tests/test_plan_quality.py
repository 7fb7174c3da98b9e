"""Physical-plan assertions — the 100 TB posture gate (SURVEY.md §4).

Correctness tests prove the small-SF answer; these prove the PLAN is
the one we'd want on a 1000-executor cluster: predicates reach the
parquet scan, scans read only needed columns, small dimensions
broadcast, nothing drops to row-at-a-time Python, and no operator
forces single-task writes. A regression here is a performance bug
even when every value still matches the oracle.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod

# Queries that legitimately cross into Arrow/pandas execution
# (multimodal decode, the vectorized-numpy ANN path, and per-group
# model fitting are pandas surfaces by design).
PANDAS_OK = {
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_resize_codec",
    "multimodal_frame_decode",
    "audio_clip_stats",
    "audio_downsample_stats",
    "udtf_ngram_topk",  # ArrowEvalPythonUDTF — the sanctioned Arrow UDTF boundary
    "embed_cosine_topk_pandas",
    "user_trend_slope_pandas",
    "embed_pq_topk",  # vectorized Arrow encode (expression twin tested identical)
    # r6: Arrow-matmul corpus signatures (expression twin identity-
    # gated in the twin sweep and test_multitable_lsh_sig_strategy_identity)
    "embed_lsh_topk",
    # r6: Arrow-matmul PQ encode (expression twin identity-gated in
    # the twin sweep and test_pq_pinned_encode_strategy_identity)
    "embed_pq_pinned_topk",
    # r7: broadcast-codebook Arrow assignment (the scale-codebook
    # path; literal-expression twin identity-gated at 8 cells in
    # test_scaled_codebook_assignment_identity) + Arrow-matmul Lloyd
    # training partial sums
    "embed_semdedup_trained",
    "embed_knn_audit_trained",
    # r9: composes the five ANN tiers above — inherits their sanctioned
    # Arrow-matmul signature/encode stages (each identity-gated)
    "embed_ann_recall_matrix",
    # r10: re-blocked on trained-codebook IVF cells (VERDICT r9 #1) —
    # the same sanctioned broadcast-codebook Arrow assignment +
    # Arrow-matmul Lloyd partial sums as embed_semdedup_trained
    "dedup_embed_neardup",
    "embed_nn_within_label",
}
# Streaming queries execute eagerly inside the callable (AvailableNow
# runs) and return a materialized result — no lazy plan to inspect.
SKIP = {name for name in entrymod.queries() if name.startswith("streaming_")}

BATCH_QUERIES = sorted(set(entrymod.queries()) - SKIP)


def n_scans(plan: str) -> int:
    """Number of scan NODES — the formatted explain mentions each node
    twice (tree line + detail header), so count detail headers only."""
    import re
    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def plan_of(spark, sf_dir: str, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_row_at_a_time_python(spark, sf_smoke, name):
    """Python must never appear in a hot path except as Arrow-batched
    pandas execution, and only where semantics demand it."""
    plan = plan_of(spark, sf_smoke, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    assert "CartesianProduct" not in plan, (
        f"{name}: unkeyed shuffle cross join — every intentional cross "
        "join here must be a broadcast (scalar/contract-small side)"
    )
    if name not in PANDAS_OK:
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name}: unexpected pandas node {node}"


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_forced_single_partition(spark, sf_smoke, name):
    """The reference's coalesce(1) anti-pattern must not re-appear, and
    nothing should funnel through a single-partition exchange except a
    final global sort/limit of an already-aggregated result."""
    plan = plan_of(spark, sf_smoke, name)
    assert "Coalesce 1" not in plan, f"{name}: coalesce(1) in plan"


def test_q1_scan_pushdown_and_pruning(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Column pruning: the lineitem scan must read exactly the 7 needed
    # columns, none of the other 9.
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 == 7 or read.count(",") == 6, read
    for col in ("l_orderkey", "l_partkey", "l_comment", "l_commitdate"):
        assert col not in read, f"unpruned column {col}"


def test_dim_joins_broadcast(spark, sf_smoke):
    """Small dimensions must broadcast — no shuffle of the fact side
    for dim joins (J1 and the Q5 region/nation chain)."""
    for name in ("dim_join_broadcast", "q5_region_volume", "star_assembly"):
        plan = plan_of(spark, sf_smoke, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_semi_anti_joins_stay_semi(spark, sf_smoke):
    """Membership checks must compile to semi/anti joins (no payload
    materialization of the probe side)."""
    assert "LeftSemi" in plan_of(spark, sf_smoke, "semi_join_membership")
    assert "LeftAnti" in plan_of(spark, sf_smoke, "anti_join_orphans")


def test_surrogate_keys_stay_in_catalyst(spark, sf_smoke):
    """R2 replacement: key assignment is a Window node, not an RDD
    round-trip (no Scan ExistingRDD from createDataFrame)."""
    plan = plan_of(spark, sf_smoke, "surrogate_key_assign")
    assert "Window" in plan
    assert "Scan ExistingRDD" not in plan


def test_topk_uses_takeordered(spark, sf_smoke):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    top-k + merge), not a global sort."""
    plan = plan_of(spark, sf_smoke, "global_topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "TakeOrderedAndProject" in plan_of(spark, sf_smoke, "q3_shipping_priority")


def test_q6_all_predicates_pushed(spark, sf_smoke):
    """Q6 is the pushdown showcase: every range predicate reaches the
    parquet scan and the read schema is 4 columns."""
    plan = plan_of(spark, sf_smoke, "q6_revenue_forecast")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, f"missing pushed filter {frag}"
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_returnflag", "l_tax"):
        assert col not in read


def test_exists_compiles_to_semi_join(spark, sf_smoke):
    """The EXISTS subquery shape (Q4) must be a left-semi join — the
    probe side never duplicates, so no DISTINCT node appears."""
    plan = plan_of(spark, sf_smoke, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q10_aggregates_before_dimension_join(spark, sf_smoke):
    """Q10: revenue reduces to one row per custkey before customer
    attributes attach (broadcast at this SF), and the global top-20 is
    TakeOrderedAndProject, never a full sort."""
    plan = plan_of(spark, sf_smoke, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Sort " not in plan  # no global sort node


def test_multi_distinct_single_scan(spark, sf_smoke):
    """Multiple COUNT(DISTINCT) compile to one Expand over ONE lineitem
    scan — not one scan per distinct column."""
    plan = plan_of(spark, sf_smoke, "multi_distinct_by_flag")
    assert "Expand" in plan
    assert n_scans(plan) == 1, n_scans(plan)


def test_sliding_window_is_expand_not_union(spark, sf_smoke):
    """Sliding windows assign each row to both buckets via Expand in a
    single pass — the oracle's UNION ALL of two scans is the shape we
    must NOT produce."""
    plan = plan_of(spark, sf_smoke, "sliding_window_rollup")
    assert "Expand" in plan
    assert n_scans(plan) == 1
    assert "Union" not in plan


def test_correlated_avg_is_window_not_self_join(spark, sf_smoke):
    """The correlated-subquery shape decorrelates to a window over the
    correlation key: one shuffle, no self-join of orders."""
    plan = plan_of(spark, sf_smoke, "correlated_above_avg")
    assert "Window" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan, f"unexpected {join}"
    assert n_scans(plan) == 1


def test_tpch_star_joins_broadcast(spark, sf_smoke):
    """Q7/Q8/Q9: every dimension side (nation/region/supplier/part)
    broadcasts — the fact table shuffles only for the final groupBy."""
    for name in ("q7_volume_shipping", "q8_market_share", "q9_product_profit"):
        plan = plan_of(spark, sf_smoke, name)
        assert "BroadcastHashJoin" in plan, name


def test_q21_exists_not_exists_compile_to_semi_anti(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q21_waiting_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q22_no_orders_is_anti_join(spark, sf_smoke):
    assert "LeftAnti" in plan_of(spark, sf_smoke, "q22_idle_customers")


def test_q18_topk_uses_takeordered(spark, sf_smoke):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_smoke, "q18_large_volume_customer")


def test_q2_correlated_min_is_window_single_scan(spark, sf_smoke):
    """Q2's per-part minimum must be a Window over the correlation key
    — one lineitem scan total, not a self-join of the derived
    relation."""
    plan = plan_of(spark, sf_smoke, "q2_min_cost_supplier")
    assert "Window" in plan
    assert n_scans(plan) <= 5  # lineitem + 4 dims, each exactly once


def test_q13_zero_order_customers_via_left_join(spark, sf_smoke):
    plan = plan_of(spark, sf_smoke, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_surrogate_keys_contiguous_and_complete(spark, sf_smoke, tmp_path):
    """Surrogate keys are exactly ``start_from+1 .. start_from+n`` in
    the order of the natural key, and every row is kept: on 120,000
    rows over 8 partitions, on a one-date slice of the covid fact and
    on a two-column key spread over 4 partitions. The bucketed
    numbering of ``surrogate_key_assign`` must give the same keys on
    the large frame."""
    import datetime as dt

    from pyspark.sql import functions as F

    from covid_fixtures import RUN_DATE, generate
    from fsc_etl_spark.operators.keys import surrogate_keys
    from fsc_etl_spark.plans import covid
    from fsc_etl_spark.plans.analytics import bucketed_keys

    n_big = 120_000
    big = spark.range(0, n_big, numPartitions=8).select(
        ((F.col("id") * 7919) % n_big * 3 + 5).alias("CodeISO"), F.lit(0).alias("Date")
    )
    typed = covid.typed_sources(covid.load_sources(spark, generate(str(tmp_path))["today"]))
    last_day = F.lit((RUN_DATE - dt.timedelta(days=1)).isoformat()).cast("date")
    one_date = covid.assemble_metrics_fact(typed, run_ts=dt.datetime(2021, 3, 2, 6)).filter(
        F.col("Date") == last_day
    )
    spread = spark.range(0, 2000, numPartitions=4).select(
        (F.col("id") % 7).alias("CodeISO"), ((F.col("id") * 7919) % 2000).alias("Date")
    )
    numbered = [
        (frame, k, surrogate_keys(frame, order_by=["CodeISO", "Date"], key_col="sk", start_from=k))
        for frame, k in ((big, 1000), (one_date, 1200), (spread, 17))
    ]
    numbered.append((big, 1000, bucketed_keys(big, "CodeISO", key_col="sk", start_from=1000)))
    for frame, k, keyed in numbered:
        want = sorted(tuple(r) for r in frame.select("CodeISO", "Date").collect())
        got = sorted(tuple(r) for r in keyed.select("CodeISO", "Date", "sk").collect())
        assert len(want) > 1
        assert [r[:2] for r in got] == want, "rows lost or repeated"
        assert [r[2] for r in got] == list(range(k + 1, k + 1 + len(want)))


def test_contamination_benchmark_grams_broadcast(spark, sf_smoke):
    """The benchmark-gram side must broadcast (eval suites are tiny
    against the corpus); the corpus side must not re-shuffle before
    the join."""
    plan = plan_of(spark, sf_smoke, "contamination_overlap")
    assert "BroadcastHashJoin" in plan, "benchmark grams must broadcast-join"
    assert "SortMergeJoin" not in plan


def test_length_filter_window_confined_to_histogram(spark, sf_smoke):
    """The cumulative-mass window runs over the token-length histogram
    (bounded by distinct lengths), never over documents: the plan's
    single-partition exchange must sit above the histogram aggregate,
    and the survivors must come back via a broadcast semi-join."""
    plan = plan_of(spark, sf_smoke, "length_quantile_filter")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the doc-side scan never funnels into the window's single partition:
    # the only SinglePartition exchange consumes the aggregated histogram
    # (formatted mode spells it "Arguments: SinglePartition, ...")
    assert plan.count("SinglePartition") == 1


def test_ntile_headline_has_no_global_row_sort(spark, sf_smoke):
    """The headline NTILE query is lowered to the histogram
    decomposition: no ntile window function, no full-table
    single-partition sort. The only SinglePartition exchanges feed
    the (value-domain-bounded) balance histogram window and the
    scalar row-count aggregate."""
    plan = plan_of(spark, sf_smoke, "ntile_customer_deciles")
    assert "ntile(" not in plan, "headline deciles must not use a global NTILE window"
    assert plan.count("SinglePartition") == 2
    # the tie-group row_number stays partitioned by balance
    assert "row_number()" in plan


def test_cluster_canonical_rank_uses_window_group_limit(spark, sf_smoke):
    """row_number()=1 survivorship must push the per-cluster top-1
    limit into the shuffle (WindowGroupLimit), so only candidate
    winners cross the exchange at scale."""
    plan = plan_of(spark, sf_smoke, "cluster_canonical_doc")
    assert "WindowGroupLimit" in plan


def test_bloom_probe_is_scan_side_filter(spark, sf_smoke):
    """The bloom membership test must appear as a Filter directly over
    the lineitem scan (map-side, pre-exchange), not after the join."""
    plan = plan_of(spark, sf_smoke, "bloom_pruned_join")
    # The filter carrying the bloom array literal runs as a plain
    # Filter over the fact scan; the exact semi join still follows.
    assert "LeftSemi" in plan
    assert "element_at" in plan, "bloom bit test not in the physical plan"


def test_heavy_hitters_phase1_is_partial_agg(spark, sf_smoke):
    """Phase-1 candidate counting groups on (spark_partition_id, key):
    partial aggregation collapses each partition's keys map-side, so
    the plan must show a partial_count before any Exchange of the
    counting aggregate."""
    plan = plan_of(spark, sf_smoke, "heavy_hitter_users")
    assert "partial_count" in plan
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan


def test_reservoir_uses_window_group_limit(spark, sf_smoke):
    """rank <= k must push into the window operator (WindowGroupLimit)
    instead of fully sorting each group."""
    plan = plan_of(spark, sf_smoke, "reservoir_sample_per_source")
    assert "WindowGroupLimit" in plan


def test_dpp_rollup_scan_has_dynamic_pruning(spark, sf_smoke):
    """The partitioned-fact ⋈ filtered-dim join must inject a
    dynamicpruningexpression partition filter into the fact scan —
    the mechanism that skips non-qualifying partitions at 100 TB.
    (Executed plan, not explain: DPP subqueries materialize there.)"""
    df = entrymod.queries()["dpp_pruned_rollup"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP filter on the fact scan"


def test_skyline_sweep_is_range_partitioned(spark, sf_smoke):
    """The skyline prefix-max sweep must run over a range partitioning
    of the minimised column (the two-phase shape) — a plan without
    RangePartitioning would mean the sweep collapsed to one task."""
    plan = plan_of(spark, sf_smoke, "skyline_orders")
    assert "rangepartitioning" in plan.lower(), "skyline lost its range phase"


def test_pps_prefix_sum_is_bucket_partitioned(spark, sf_smoke):
    """pps_token_sample's exclusive prefix sum must be the two-phase
    data-derived-bucket decomposition (round-6 rework + ADVICE r7
    driver pin): the per-row running sum windows over hash-partitioned
    __bucket (derived from percentile_approx boundaries collected once
    on the driver and re-injected as literals — so the psums branch
    and the row-binning branch see identical bounds by construction,
    never two AQE instantiations of an arrival-order-dependent
    sketch), the only SinglePartition exchange is the contract-tiny
    one-row-per-bucket offsets window — never a full-table
    single-partition sort — and no lineage-truncating checkpoint
    (Scan ExistingRDD) hiding the shape."""
    plan = plan_of(spark, sf_smoke, "pps_token_sample")
    assert "windowspecdefinition(__bucket" in plan, plan
    assert "hashpartitioning(__bucket" in plan.lower(), "per-row sum not bucket-partitioned"
    assert plan.lower().count("singlepartition") <= 1, plan
    assert "percentile" not in plan.lower(), "control sketch must be pre-collected literals"
    assert "Scan ExistingRDD" not in plan, "PPS must not checkpoint the full table"


def test_multitable_lsh_plan_shape(spark, sf_smoke):
    """embed_lsh_topk's plan must keep the 100 TB shape: signatures
    come from one Arrow python stage (no per-plane expression blowup
    in the corpus path), both the candidate join and the re-rank
    query join build on a BROADCAST of the tiny query side, and
    nothing degenerates to a cartesian/nested-loop product."""
    plan = plan_of(spark, sf_smoke, "embed_lsh_topk")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert "BroadcastHashJoin" in plan, "query side not broadcast"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pinned_plan_shape(spark, sf_smoke):
    """embed_ivf_pinned_topk must keep the IVF scale shape: corpus
    cell assignment is pure map-side expression work (no Python stage,
    no join against a centroid table), the candidate join builds on a
    BROADCAST of the tiny probed-cells side, and nothing degenerates
    to a cartesian product. (The query side's 5-row x 8-centroid
    probe ranking is an intentional broadcast nested loop.)"""
    plan = plan_of(spark, sf_smoke, "embed_ivf_pinned_topk")
    assert "BroadcastHashJoin" in plan, "probed-cells side not broadcast"
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, (
        "pinned-IVF corpus assignment must stay JVM-side expression work"
    )


def test_pq_pinned_plan_shape(spark, sf_smoke):
    """embed_pq_pinned_topk must keep the PQ scale shape: ONE Arrow
    python stage for the encode (codes persist as a bytes column at
    scale — never a per-code join), the ADC scoring joins against a
    BROADCAST of the tiny query LUT side (an intentional broadcast
    nested loop: every corpus code row scores against every query),
    and no unkeyed CartesianProduct anywhere."""
    plan = plan_of(spark, sf_smoke, "embed_pq_pinned_topk")
    assert plan.count("MapInPandas") >= 1, "Arrow encode stage missing"
    assert "BroadcastNestedLoopJoin" in plan, "query LUT side not broadcast"
    assert "CartesianProduct" not in plan


def test_kcore_anti_joins_not_cartesian(spark, sf_smoke):
    """kcore_copurchase's peel rounds are materialized eagerly, so the
    returned plan is the final histogram over a checkpointed RDD —
    assert it stays a plain aggregate (no lingering join/sort over the
    full edge set in the RESULT plan) and runs partition-parallel."""
    plan = plan_of(spark, sf_smoke, "kcore_copurchase")
    assert "Scan ExistingRDD" in plan, "kcore result must be checkpoint-backed"
    assert "CartesianProduct" not in plan


def test_session_window_uses_merging_sessions_exec(spark, sf_smoke):
    """session_window must lower to the native MergingSessions operator
    (one aggregation pass), not a join or generic window fallback."""
    plan = plan_of(spark, sf_smoke, "session_window_stats")
    assert "MergingSessions" in plan, "session_window did not use MergingSessions"


def test_shuffle_hash_hint_is_honored(spark, sf_smoke):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (no sort
    phase), not fall back to sort-merge."""
    plan = plan_of(spark, sf_smoke, "shuffle_hash_join_stats")
    assert "ShuffledHashJoin" in plan, "shuffle_hash hint not honored"


def test_semdedup_plan_shape(spark, sf_smoke):
    """embed_semdedup_prune must keep the SemDeDup scale shape:
    cell assignment is map-side expression work (no Python stage, no
    centroid-table join), the within-cell pair join honors the
    shuffle_hash hint (a sort-merge would buffer array rows through
    sort spills), and nothing degenerates to a cartesian product."""
    plan = plan_of(spark, sf_smoke, "embed_semdedup_prune")
    assert "ShuffledHashJoin" in plan, "cell pair join fell back from shuffle_hash"
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_knn_label_audit_plan_shape(spark, sf_smoke):
    """embed_knn_label_audit shares semdedup's cell-blocked shape:
    shuffle_hash pair join, JVM-side assignment, no cartesian; the
    k-NN rank lowers to a window and the majority vote to a struct-max
    aggregate so the pair join executes ONCE (a second windowed branch
    would re-run it)."""
    plan = plan_of(spark, sf_smoke, "embed_knn_label_audit")
    assert "ShuffledHashJoin" in plan, "cell pair join fell back from shuffle_hash"
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan, "k-NN rank must be a window operator"
    # formatted explain mentions each node twice (tree + detail):
    # exactly ONE ShuffledHashJoin node = the pair join executes once
    assert plan.count("ShuffledHashJoin") == 2, "pair join must execute once"


def test_dsir_scores_broadcast(spark, sf_smoke):
    """dsir_importance_weights must join the per-instance gram stream
    against a BROADCAST of the 64-row score table (the per-doc sum is
    the only data-sized shuffle); the 1-row totals cross join is an
    intentional scalar broadcast nested loop."""
    plan = plan_of(spark, sf_smoke, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan, "score table not broadcast"
    assert "CartesianProduct" not in plan


# --- Unpartitioned-window gate (VERDICT r8 Next-round #3) ------------
# The bench log is full of benign "WindowExec: No Partition Defined"
# warnings from windows over bounded frames (top-k survivors,
# histogram grids, |sources|-row rollups). Nothing used to prevent a
# future CORPUS-SIZED global window from hiding in that noise. This
# gate walks the physical plan: every WindowExec with an empty
# partition spec must be path-bounded — every root-to-leaf path of
# its subtree must hit an Aggregate / Limit / TakeOrdered /
# WindowGroupLimit node BEFORE any scan leaf. A raw scan funneling
# into a global window fails, even when a reduction exists on some
# OTHER branch of a join below the window.

_BOUNDING_NODES = {
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "TakeOrderedAndProjectExec",
    "CollectLimitExec",
    "WindowGroupLimitExec",
}
# Scan leaves = unbounded unless reduced above. RDDScanExec
# (localCheckpoint) is deliberately in here: a checkpointed frame
# hides its producing subplan, so a corpus-sized checkpoint feeding a
# global window must fail the gate rather than pass unseen.
_SCAN_NODES = {
    "FileSourceScanExec",
    "BatchScanExec",
    "RowDataSourceScanExec",
    "RDDScanExec",
    "InMemoryTableScanExec",
}


def _jchildren(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _path_bounded(node) -> bool:
    name = node.getClass().getSimpleName()
    if name in _BOUNDING_NODES:
        return True
    if name in _SCAN_NODES:
        return False
    kids = _jchildren(node)
    if not kids:
        return True  # Range / LocalTableScan / ReusedExchange: literal-sized
    return all(_path_bounded(c) for c in kids)


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_global_windows_only_over_bounded_inputs(spark, sf_smoke, name):
    df = entrymod.queries()[name](spark, sf_smoke)
    plan = df._jdf.queryExecution().sparkPlan()

    def walk(n):
        yield n
        for c in _jchildren(n):
            yield from walk(c)

    for node in walk(plan):
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            assert all(_path_bounded(c) for c in _jchildren(node)), (
                f"{name}: unpartitioned {cls} over an input with an "
                "unreduced scan path — a corpus-sized global window "
                "(single-partition funnel) at scale"
            )


# ---------------------------------------------------------------------------
# Final-schema type gate (VERDICT r10 #2). Three rounds were lost to
# final output types the driver's value-canonicalization path had never
# seen (r4 HUGEINT, r6 Arrow Decimal fetch, r10 DECIMAL(38,0) — the
# sole red row of that round despite bit-identical values). Encode the
# lesson once: every final column of every queries() entry must use a
# type class with a prior driver-green precedent. Exact/decimal
# arithmetic stays INTERNAL — cast to one of these before the final
# select.
#
# EXTENDING this surface (VERDICT r11 #6): a new final type (array,
# interval, decimal, ...) must FIRST debut alone — a minimal probe
# query emitting just that type, placed in the driver's 50-slot
# window for one round — before any real operator rides it. Only
# after its driver row comes back green does the type join this set.
PROVEN_FINAL_TYPES = {
    "bigint",
    "int",
    "double",
    "string",
    "boolean",
    "date",
    "timestamp",
}


@pytest.mark.slow
def test_final_schemas_use_only_proven_types(spark, sf_smoke):
    """One pass over all queries() (streaming included — those return
    materialized frames whose schema is equally driver-hashed):
    collect every (query, column, type) outside the proven surface and
    fail with the full list, so a regression names every offender."""
    offenders: list[str] = []
    for name, fn in entrymod.queries().items():
        sch = fn(spark, sf_smoke).schema
        for f in sch.fields:
            ty = f.dataType.simpleString()
            if ty not in PROVEN_FINAL_TYPES:
                offenders.append(f"{name}.{f.name}: {ty}")
    assert not offenders, (
        "final output columns outside the proven driver type surface "
        f"(cast before the final select): {offenders}"
    )
