"""Graph analytics queries over the customer—part co-purchase graph:
PageRank (uniform / weighted / dangling-redistribute / personalized),
HITS hubs-authorities, triangle census, k-core, label-propagation
communities, common-neighbor link prediction, degree assortativity,
bounded BFS + per-seed neighborhood curves, recursive reachability —
all driver-checkable with exact oracles.

No reference twin: the reference engine (single-notebook Databricks
ETL, /root/reference/main.py) has no graph surface; these extend
SURVEY.md §2.12. Everything is integer-exact by construction (see
operators/graph.py): fixed-point BIGINT scores with floor division,
pure counting censuses, integer ppm ratios — no floats anywhere, so
the unrolled-CTE / WITH RECURSIVE DuckDB oracles hash-match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.graph import (
    RANK_SCALE,
    bfs_hops,
    hits_integer,
    kcore_degrees,
    ktruss_support,
    label_propagation,
    pagerank_integer,
    triangle_counts_per_node,
    triangle_stats,
)
from fsc_etl_spark.operators.pairs import expand_pairs, shuffle_parallelism, sym_edges
from fsc_etl_spark.sources.readers import read_parquet_table as t

_PR_ITERS = 5
_TOPK = 20


def _basket_pairs(df: DataFrame, key: str, item: str) -> DataFrame:
    """Within-basket co-occurrence pairs ``(lo < hi)`` from one
    per-basket ``collect_set`` expanded in-task (operators/pairs).
    Per-basket work is bounded by the basket size (TPC-H baskets are
    <= 7 lines; a real catalog applies an item cap upstream). Output
    is NOT globally distinct: callers dedup across baskets.
    """
    return (
        df.groupBy(key)
        .agg(F.array_sort(F.collect_set(item)).alias("ps"))
        .repartition(shuffle_parallelism(df))
        .select(expand_pairs("ps", "lo", "hi").alias("p"))
        .select("p.lo", "p.hi")
    )


def _copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct customer—part purchase pairs ``(cnode, pnode)``, as a
    lazy plan; a caller that reads them more than once persists them
    in its cache scope. Nodes are BIGINT: 2·custkey for customers,
    2·partkey+1 for parts, so the two overlapping TPC-H key spaces stay
    distinct nodes and iterative builders shuffle longs, not formatted
    strings (:func:`render_node` turns them back into labels)."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_partkey") * 2 + 1).alias("pnode"),
        )
        .distinct()
    )


def render_node(name: str) -> Column:
    """The 'c<custkey>' / 'p<partkey>' label of a BIGINT node column."""
    c = F.col(name)
    return F.concat(
        F.when(c % 2 == 0, F.lit("c")).otherwise(F.lit("p")),
        F.shiftright(c, 1).cast("string"),
    )


def pagerank_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 authorities of the customer—part co-purchase graph by
    5-iteration integer PageRank (d = 85/100, rank scale 10^9).

    Parts bought by many (well-connected) customers float to the top —
    the classic corpus-authority signal, here over retail incidence.
    Deterministic top-k: ties broken by node id, taken via
    TakeOrderedAndProject (no global sort materialisation).

    Nodes travel as BIGINT (2·custkey / 2·partkey+1) through every
    iteration — five rounds of shuffling long keys instead of formatted
    strings — and render to the 'c…'/'p…' labels only in the final
    20-row projection, where the oracle's string tiebreak applies.
    """
    with cache_scope() as cs:
        cp = cs.persist(_copurchase(spark, sf))
        edges = sym_edges(cp, "cnode", "pnode")
        # symmetrised graph -> every node has in-edges, so the dense
        # fast path (no per-iteration nodes join) is exact here; the
        # parity-keyed symmetrising explode of distinct cp pairs is
        # structurally unique, so the operator's defensive distinct is
        # skipped too
        ranks = pagerank_integer(
            edges, iters=_PR_ITERS, every_node_has_inflow=True, assume_distinct=True
        )
    return (
        ranks.select(render_node("node").alias("node"), "rank")
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_TOPK)
    )


def pagerank_weighted_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted twin of `pagerank_copurchase`: each customer—part edge
    carries its purchase multiplicity (lineitem co-occurrence count),
    so rank flows proportionally to how OFTEN the pair traded, not
    just that it did. Same fixed-point integer arithmetic —
    ``(rank·w) div W_out`` per edge — same long-node-key iteration,
    same deterministic top-20.
    """
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        cp = cs.persist(
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy(
                (F.col("o_custkey") * 2).alias("cnode"),
                (F.col("l_partkey") * 2 + 1).alias("pnode"),
            )
            .agg(F.count(F.lit(1)).alias("w"))
        )
        edges = sym_edges(cp, "cnode", "pnode", w="w")
        # validate=False: (src, dst) uniqueness is structural (groupBy
        # above) and weights are bounded lineitem multiplicities, so the
        # validation aggregate would re-prove an invariant the plan
        # already guarantees.
        ranks = pagerank_integer(
            edges,
            iters=_PR_ITERS,
            every_node_has_inflow=True,
            weight_col="w",
            validate=False,
        )
    return (
        ranks.select(render_node("node").alias("node"), "rank")
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_TOPK)
    )


def triangle_count_coparts(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-occurrence graph (parts sharing
    an order). One row: n_nodes, n_edges, n_wedges, n_triangles —
    3·n_triangles / n_wedges is the global clustering coefficient,
    left as exact integers so the driver hash is float-free.

    At 100 TB the co-occurrence self-join is bounded per order (orders
    have bounded line counts), and the wedge join is the standard
    node-iterator algorithm — AQE skew-split handles hub parts.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # raw basket pairs (lo < hi, intra-basket deduped): triangle_stats
    # canonicalises + distincts internally
    pairs = _basket_pairs(li, "l_orderkey", "l_partkey").select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    )
    return triangle_stats(pairs)


_KTRUSS_K = 4
# Peel-round bound. Measured convergence: 3 rounds at sf0.01, 8 at
# sf0.1 (the sparser co-parts graph has a long peel tail) — ~+5
# rounds per data decade, so 16 covers sf1.0 (~13 expected) with
# margin (r12, VERDICT r11 nit: 10 left only 2 rounds of headroom
# over sf0.1). Cost of the raise: zero on the Spark side (early exit
# at the fixpoint) and ~+7 s on the sf0.01 DuckDB oracle (no-op
# rounds over the converged truss, 13 s -> 20 s measured) — the
# oracle only ever runs at the sf0.01 correctness gate. If the bound
# is ever exhausted both engines now fail LOUDLY together: Spark
# raises ValueError, the oracle's convergence-guard CTE calls
# error() (ADVICE r11).
_KTRUSS_ROUNDS = 16


def ktruss_coparts(spark: SparkSession, sf: str) -> DataFrame:
    """4-truss of the part co-occurrence graph
    (operators/graph.ktruss_support): the maximal subgraph where every
    edge sits in >= 2 triangles, by fixed-round support peeling with
    early exit (Cohen 2008) — the cohesive-community step past the
    k-core (every k-truss nests inside the (k-1)-core but is strictly
    tighter). Readout: the within-truss support histogram — one row
    per surviving support value with its edge count and an edge-key
    range — so the oracle hashes the full peel without shipping ~1e5
    edge rows.

    Scale shape: per round one degree-oriented triangle closure
    (forward adjacency O(sqrt m) under hubs — operators/graph.
    triangle_closure, so wedge work is O(m^1.5)), one 3-way edge-explode +
    keyed sum, one left-join peel; survivors checkpoint eagerly.
    Converges in 3 rounds at sf0.01 but 8 at sf0.1 (the sparser
    co-parts graph has a long peel tail), so the fixed unroll is
    _KTRUSS_ROUNDS = 16 (see the bound's comment for the headroom
    math) — rounds past the fixpoint are no-ops (monotone peeling —
    see ktruss_support), which is what lets one oracle serve every
    SF; if the bound is ever exhausted, Spark raises and the oracle's
    convergence guard error()s — loud on both engines.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # raw basket pairs: ktruss_support canonicalises + distincts
    # internally
    pairs = _basket_pairs(li, "l_orderkey", "l_partkey").select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    )
    truss = ktruss_support(pairs, k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS)
    return truss.groupBy("sup").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.min("lo").cast("bigint").alias("min_lo"),
        F.max("hi").cast("bigint").alias("max_hi"),
    ).select(F.col("sup").cast("bigint").alias("sup"), "n_edges", "min_lo", "max_hi")


#: Parts bought by more than this many distinct customers are "hub"
#: parts: they connect everyone to everyone (no link-prediction
#: signal) and their per-part pair fanout is quadratic — the standard
#: stop-word filter of co-occurrence mining, which also CAPS the
#: part-blocked pair join's per-block work at fanout² regardless of
#: corpus size.
_CN_MAX_PART_FANOUT = 50
_CN_TOPK = 50


def graph_common_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Common-neighbor link prediction over the customer projection of
    the co-purchase bipartite graph: two customers are
    predicted-linked when their NON-HUB part sets overlap; score =
    common-part count and exact integer Jaccard ppm over part sets.
    Top-50 by (jaccard_ppm DESC, common DESC, id_a ASC, id_b ASC) — a
    total order over integers, so the LIMIT is deterministic and the
    oracle hash-matches.

    Scale shape: the pair generation is BLOCKED on partkey with the
    per-part fanout capped at _CN_MAX_PART_FANOUT distinct customers
    (hub parts excluded up front — the co-occurrence stop-word rule),
    so per-block pair work is ≤ fanout² no matter how the corpus
    grows; degrees and common counts are two keyed aggregations, the
    degree table joins the count-REDUCED pair aggregate (not the raw
    pair stream), and the top-k is a TakeOrdered heap, never a global
    sort. All integers end to end."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # One sorted customer set per part: the set absorbs the (cust,
        # part) distinct and the fanout cap is a size() filter. The
        # round-robin comes before the persist so the cache itself, not
        # only the expansion, runs at full parallelism.
        parts = cs.persist(  # read twice: degree build and pair expansion
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .groupBy(F.col("l_partkey").alias("part"))
            .agg(F.array_sort(F.collect_set("o_custkey")).alias("cs"))
            .filter(F.size("cs") <= _CN_MAX_PART_FANOUT)
            .repartition(shuffle_parallelism(li))
        )
        deg = (
            parts.select(F.explode("cs").alias("cust"))
            .groupBy("cust")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        common = (
            parts.select(expand_pairs("cs", "id_a", "id_b").alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
        out = (
            common.join(
                deg.withColumnRenamed("cust", "id_a").withColumnRenamed("deg", "deg_a"),
                "id_a",
            )
            .join(
                deg.withColumnRenamed("cust", "id_b").withColumnRenamed("deg", "deg_b"),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.col("common").cast("bigint").alias("common"),
                F.expr("(1000000 * common) div (deg_a + deg_b - common)")
                .cast("bigint")
                .alias("jaccard_ppm"),
            )
            .orderBy(
                F.col("jaccard_ppm").desc(),
                F.col("common").desc(),
                F.col("id_a").asc(),
                F.col("id_b").asc(),
            )
            .limit(_CN_TOPK)
        )
        return cs.result(out)


# Adamic–Adar weights as PINNED INTEGER LITERALS (the pinned-codebook
# idiom): w(n) = floor(1e6 / ln(n)) for n = 2.._CN_MAX_PART_FANOUT,
# computed once here with math.log and consumed as the SAME integer
# literals by both engines — so no cross-engine ln/float parity is at
# stake anywhere in the query (contrast the PSI micro-nat path, which
# must quantize a data-dependent ln and carries a floor-margin audit).
# The independent reference test recomputes the table and audits every
# value's distance from its floor boundary.
def _aa_weight_table(cap: int) -> list[int]:
    import math

    return [int(1_000_000 / math.log(n)) for n in range(2, cap + 1)]


_AA_WEIGHTS = _aa_weight_table(_CN_MAX_PART_FANOUT)
_AA_TOPK = 50


def graph_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic–Adar link prediction over the customer projection of the
    co-purchase bipartite graph (round 11 — completes the
    link-prediction family next to `graph_common_neighbors`'s
    count/Jaccard scores): for customers a, b the score is
    Σ_z 1/ln(|customers of z|) over shared parts z — rare shared
    parts count for more (Adamic & Adar 2003, "Friends and neighbors
    on the web"). Emitted micro-scaled as aa_micro = Σ w(n_z) with
    w(n) = floor(1e6/ln n) from the pinned table above; top-50 by
    (aa_micro DESC, common DESC, id_a ASC, id_b ASC) — a total order
    over integers, so the LIMIT is deterministic and hash-stable.

    Scale shape: identical to graph_common_neighbors — pair
    generation BLOCKED on partkey with per-part fanout capped at
    _CN_MAX_PART_FANOUT distinct customers (parts below 2 customers
    generate no pairs and are pruned by the same predicate), so
    per-block pair work is ≤ fanout² regardless of corpus growth; the
    fanout count and weight attach via a part-partitioned window over
    the incidence's own exchange (one shuffle — no count-agg + join
    back), the weight itself is a map-side lookup into a 49-literal
    array, the score is one keyed SUM, and the top-k is a TakeOrdered
    heap. All integers end to end."""
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    warr = F.array(*[F.lit(w) for w in _AA_WEIGHTS])
    # One sorted customer set per part, as in graph_common_neighbors;
    # n_cust is the set size, so the weight is a map-side index into
    # the literal array. The expansion is the only consumer: nothing
    # is persisted, so there is no cache to release.
    parts = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.array_sort(F.collect_set("o_custkey")).alias("cs"))
        .filter((F.size("cs") >= 2) & (F.size("cs") <= _CN_MAX_PART_FANOUT))
        .repartition(shuffle_parallelism(li))
        .select(
            "cs",
            F.element_at(warr, (F.size("cs") - 1).cast("int")).alias("w"),
        )
    )
    out = (
        parts.select("w", expand_pairs("cs", "id_a", "id_b").alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(
            F.sum("w").cast("bigint").alias("aa_micro"),
            F.count(F.lit(1)).cast("bigint").alias("common"),
        )
        .select("id_a", "id_b", "common", "aa_micro")
        .orderBy(
            F.col("aa_micro").desc(),
            F.col("common").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(_AA_TOPK)
    )
    return out


def bfs_hops_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Hop-distance histogram of a 3-round BFS from customer node
    ``c0`` over the co-purchase graph (operators/graph.bfs_hops).

    Frontier-proportional work per round — the 100 TB BFS shape — with
    a first-reach == min-distance guarantee, verified against a
    bounded-depth recursive-CTE oracle that takes MIN(d) over all
    enumerated paths instead.

    Nodes travel as BIGINT (2·custkey / 2·partkey+1) and render to
    'c…'/'p…' labels BEFORE the final per-distance aggregate, so the
    min/max node readout keeps its original STRING ordering bit-for-bit.
    """
    with cache_scope() as cs:
        cp = cs.persist(_copurchase(spark, sf))
        edges = sym_edges(cp, "cnode", "pnode")
        src = spark.range(1).select(F.lit(0).cast("long").alias("node"))  # 'c0'
        reached = bfs_hops(edges, src, max_hops=3)
    return (
        reached.select(render_node("node").alias("node"), "dist")
        .groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


_DANGLING_ITERS = 3


def pagerank_dangling_redistribute(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dangling-mass PageRank over the DIRECTED customer→nation
    membership graph (every customer points at its nation; nations
    have no out-edges, so ~25 sink nodes hold rank that the simplified
    recurrence would silently drop).

    Exercises ``pagerank_integer(dangling="redistribute")``: per round
    the sinks' total rank is spread evenly — every node's inflow gains
    ``D div n_nodes`` before damping, all BIGINT floor arithmetic, so
    the unrolled-CTE oracle matches bit-for-bit. Top-20 deterministic
    (rank desc, node asc).
    """
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    edges = c.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    # one row per customer (c_custkey is the table key), so (src, dst)
    # is structurally unique — skip the operator's defensive distinct
    ranks = pagerank_integer(
        edges, iters=_DANGLING_ITERS, dangling="redistribute", assume_distinct=True
    )
    return ranks.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(_TOPK)


_PPR_ITERS = 3


def ppr_copurchase_seeds(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank over the symmetrised customer—part
    co-purchase graph, seeded on NATION-0 CUSTOMERS: teleport mass
    lands only on that cohort, so the top-20 ranks are the parts (and
    customers) closest to the cohort's buying neighborhood — the
    seed-expansion primitive for growing a trusted subset outward
    (operators/graph.pagerank_integer(seeds=), 3 BIGINT-exact rounds,
    unrolled-CTE oracle).

    Nodes iterate as BIGINT (2·custkey / 2·partkey+1) and render to
    'c…'/'p…' labels only in the final top-20 projection.
    """
    with cache_scope() as cs:
        cp = cs.persist(_copurchase(spark, sf))
        edges = sym_edges(cp, "cnode", "pnode")
        seeds = (
            t(spark, sf, "customer")
            .filter(F.col("c_nationkey") == 0)
            .select((F.col("c_custkey") * 2).alias("node"))
        )
        # symmetrised union -> src set == node set, no dangling possible:
        # the structural fast path skips the union-distinct + check action
        ranks = pagerank_integer(
            edges,
            iters=_PPR_ITERS,
            seeds=seeds,
            every_node_has_inflow=True,
            assume_distinct=True,
        )
    return (
        ranks.select(render_node("node").alias("node"), "rank")
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_TOPK)
    )


_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection over the symmetrised customer—part
    co-purchase graph by deterministic synchronous label propagation
    (operators/graph.label_propagation, 3 fixed rounds): every node
    with its converged community label and the community's size — the
    cheap modularity-free community readout a curation pipeline uses
    to group correlated users/items before per-community sampling.
    Bit-reproducible (ties to the LARGEST label under the integer
    order), so the 3-round unrolled-CTE oracle hash-matches.

    Nodes iterate as BIGINT (2·custkey / 2·partkey+1) and render to
    'c…'/'p…' labels only in the final projection. The whole query is
    one lazy plan: the community size is a count over a window on the
    label, so the labels are read once and nothing is cached."""
    edges = sym_edges(_copurchase(spark, sf), "cnode", "pnode")
    # structurally distinct: cp is distinct and the two union branches
    # can't collide (cnode even, pnode odd) — skip LPA's edge shuffle
    labels = label_propagation(edges, rounds=_LPA_ROUNDS, assume_distinct=True)
    return labels.select(
        render_node("node").alias("node"),
        render_node("label").alias("label"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("bigint")
        .alias("community_size"),
    )


def community_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity readout of the LPA communities over the
    symmetrised co-parts graph — parts are linked when some order
    contains both (the `triangle_count_coparts` / `ktruss_coparts`
    projection): the quality-of-partition scalar that
    tells a curation pipeline whether its community grouping is
    better than chance before it samples per-community.
    Q = Σ_c [e_c/2m − (d_c/2m)²] over a 3-round deterministic
    label_propagation partition, where e_c counts DIRECTED
    intra-community edges (each undirected internal edge twice), d_c
    sums member degrees, and 2m is the directed edge count (Newman &
    Girvan 2004, eq. 5). The co-parts projection, NOT the bipartite
    customer—part incidence: on a strictly bipartite graph with the
    parity node encoding, side-alternating LPA labels can never
    coincide across an edge, so intra-community edges would be
    structurally zero and the readout degenerate; the co-parts graph
    is triangle-rich (one clique per basket) and forms real
    communities. Q can still be ≤ 0 on a bad partition — this is a
    readout, not a success assert.

    Exactness: one row, all BIGINT — Q is emitted as
    q_ppm = (10⁶·(2m·Σe_c − Σd_c²)) div (2m)², accumulated in
    DECIMAL(38,0) (at a 10x probe 10⁶·(2m)² already overflows LONG;
    decimal carries to ~10³⁸) with Spark's truncating `div`; the
    DuckDB twin CASE-spells truncation over its flooring `//` for the
    possibly-negative numerator (the assortativity discipline).

    Scale shape: pair generation is blocked on the BASKET (TPC-H
    baskets are ≤ 7 lines; a real catalog applies the
    basket_pair_support item cap upstream, making per-basket pair
    work ≤ cap² — the same posture triangle/ktruss document); LPA's
    per-round cost is the documented one edge-shuffle
    (operators/graph.label_propagation); the modularity readout adds
    two label-attach joins shuffling on node, one label-keyed count,
    one degree agg + label-keyed sum, and a 1-row reduce — everything
    linear in edges, no windows, no sorts. The readout reads the
    labels three times, so they are persisted in the query's cache
    scope, whose eager result checkpoint lets both caches go; the plan
    fingerprint sees the whole lazy plan, LPA rounds included.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # the cross-basket distinct gives LPA's assume_distinct contract
        # its unique canonical pairs
        cp = cs.persist(_basket_pairs(li, "l_orderkey", "l_partkey").distinct())
        edges = sym_edges(cp, "lo", "hi")
        # structurally distinct (cp is distinct lo<hi; the swap can't
        # collide) — skip LPA's defensive edge shuffle
        labels = cs.persist(
            label_propagation(edges, rounds=_LPA_ROUNDS, assume_distinct=True)
        )
        # Readout over the HALF-SIZE canonical pair list instead of the
        # symmetrised union: every directed quantity is recovered
        # exactly — e_c counts directed intra-community edges = 2x the
        # internal lo<hi pairs; deg(v) = #directed edges with src v = v's
        # appearances across both cp endpoints; 2m = 2·|cp|. Same values,
        # half the rows through the two label-attach joins.
        ll = labels.select(F.col("node").alias("lo"), F.col("label").alias("ls"))
        lh = labels.select(F.col("node").alias("hi"), F.col("label").alias("ld"))
        internal = (
            cp.join(ll, "lo")
            .join(lh, "hi")
            .filter(F.col("ls") == F.col("ld"))
            .groupBy(F.col("ls").alias("label"))
            .agg((2 * F.count(F.lit(1))).alias("e_c"))
        )
        deg = (
            # both endpoints in ONE pass over the cp cache
            cp.select(F.explode(F.array("lo", "hi")).alias("src"))
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # per-community degree mass; LEFT join internal counts — a
        # community every member of which points outward has e_c = 0
        comm = (
            labels.join(deg, labels["node"] == deg["src"])
            .groupBy("label")
            .agg(F.sum(F.col("d").cast("decimal(19,0)")).alias("d_c"))
            .join(internal, "label", "left")
        )
        # two_m == Σ_c d_c: every node carries exactly one label, so
        # summing per-community degree mass over all communities counts
        # every directed edge-endpoint exactly once.
        g = comm.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_comm"),
            F.sum(
                F.coalesce(F.col("e_c"), F.lit(0)).cast("decimal(38,0)")
            ).alias("sum_e"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d2"),
            F.sum("d_c").cast("decimal(38,0)").alias("two_m"),
        )
        out = g.select(
            F.col("n_comm").cast("bigint").alias("n_communities"),
            F.col("two_m").cast("bigint").alias("two_m"),
            F.col("sum_e").cast("bigint").alias("internal_edges"),
            F.col("sum_d2").cast("bigint").alias("deg_sq_sum"),
            F.expr(
                "CASE WHEN two_m = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * (two_m * sum_e - sum_d2))"
                " div (two_m * two_m) AS BIGINT) END"
            ).alias("q_ppm"),
        )
        return cs.result(out)


_COND_TOPK = 20


def graph_conductance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-community conductance of the LPA partition over the
    symmetrised co-parts graph — the cut-quality twin of
    `community_modularity`: modularity asks "denser inside
    than chance?", conductance asks "how leaky is each community's
    boundary?" — φ(c) = cut(c) / min(vol(c), 2m − vol(c)) (Kannan,
    Vempala & Vetta 2004). A curation pipeline reads both before
    trusting per-community sampling: high-modularity partitions can
    still contain individual high-conductance (leaky) communities.

    Exactness: on the symmetrised directed edge list, vol(c) = Σ_{v∈c}
    deg(v) counts edge-endpoints in c and e_c counts directed
    intra-community edges, so cut(c) = vol(c) − e_c counts each
    crossing undirected edge exactly once (the direction leaving c).
    φ is emitted as phi_ppm = (10⁶·cut) div min(vol, 2m−vol) in
    DECIMAL(38,0) (every operand non-negative, so DuckDB's flooring
    `//` equals Spark's truncating `div` with no sign CASE), NULL for
    a community spanning the whole graph (denominator 0). Top-20
    communities by (community_size DESC, label) — a deterministic
    total order, labels unique per community.

    Scale shape: identical skeleton to community_modularity — basket-
    blocked pair generation, the documented one-edge-shuffle-per-round
    LPA, two label-attach joins, then label-keyed aggs; the readout
    adds only a 20-row TakeOrdered (no global sort). The readout reads
    the labels three times, so they are persisted in the query's cache
    scope, as in community_modularity.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # the cross-basket distinct gives LPA's assume_distinct contract
        # its unique canonical pairs
        cp = cs.persist(_basket_pairs(li, "l_orderkey", "l_partkey").distinct())
        edges = sym_edges(cp, "lo", "hi")
        # structurally distinct (cp is distinct lo<hi; the swap can't
        # collide) — skip LPA's defensive edge shuffle
        labels = cs.persist(
            label_propagation(edges, rounds=_LPA_ROUNDS, assume_distinct=True)
        )
        # Readout over the HALF-SIZE canonical pair list, as in
        # community_modularity: e_c = 2x internal lo<hi pairs,
        # deg from both cp endpoints, 2m = 2·|cp| — identical values,
        # half the rows through the two label-attach joins.
        ll = labels.select(F.col("node").alias("lo"), F.col("label").alias("ls"))
        lh = labels.select(F.col("node").alias("hi"), F.col("label").alias("ld"))
        internal = (
            cp.join(ll, "lo")
            .join(lh, "hi")
            .filter(F.col("ls") == F.col("ld"))
            .groupBy(F.col("ls").alias("label"))
            .agg((2 * F.count(F.lit(1))).alias("e_c"))
        )
        deg = (
            # both endpoints in ONE pass over the cp cache
            cp.select(F.explode(F.array("lo", "hi")).alias("src"))
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        comm = (
            labels.join(deg, labels["node"] == deg["src"])
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("community_size"),
                F.sum(F.col("d").cast("decimal(38,0)")).alias("vol"),
            )
            # LEFT join: a community every member of which points outward
            # has e_c = 0 (cut == vol)
            .join(internal, "label", "left")
        )
        two_m = cp.agg((2 * F.count(F.lit(1))).cast("decimal(38,0)").alias("two_m"))
        out = (
            comm.crossJoin(F.broadcast(two_m))
            .select(
                F.col("label").cast("bigint").alias("label"),
                "community_size",
                F.col("vol").cast("bigint").alias("vol"),
                (
                    F.col("vol")
                    - F.coalesce(F.col("e_c"), F.lit(0)).cast("decimal(38,0)")
                )
                .cast("bigint")
                .alias("cut_edges"),
                F.expr(
                    "CASE WHEN least(vol, two_m - vol) = 0 THEN CAST(NULL AS BIGINT)"
                    " ELSE CAST((CAST(1000000 AS DECIMAL(38,0))"
                    "   * (vol - CAST(coalesce(e_c, 0) AS DECIMAL(38,0))))"
                    "  div least(vol, two_m - vol) AS BIGINT) END"
                ).alias("phi_ppm"),
            )
            .orderBy(F.col("community_size").desc(), "label")
            .limit(_COND_TOPK)
        )
        return cs.result(out)


def local_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    """Local-clustering-coefficient histogram of the part co-occurrence
    graph (operators/graph.triangle_counts_per_node): per
    node lcc = 2·tri(v) / (d(v)·(d(v)−1)) (Watts & Strogatz 1998),
    the node-resolved companion of `triangle_count_coparts`'s global
    census — a curation pipeline reads the lcc distribution to
    separate clique-embedded hub items from incidental co-occurrences
    before trusting co-occurrence signals.

    Exactness: lcc_ppm = (2·10⁶·tri) div (d·(d−1)) in DECIMAL(38,0)
    (all operands non-negative — DuckDB flooring `//` == Spark
    truncating `div`); nodes with d < 2 (lcc undefined) land in
    bucket −1 with NULL min/max. Buckets: least(lcc_ppm div 10⁵, 9) —
    ten right-closed deciles, lcc == 1.0 in bucket 9. Per bucket:
    node count, min/max lcc_ppm, summed triangle participations.

    Scale shape: pair generation is basket-blocked (bounded per-order
    line counts); the per-node census is the compact-forward
    orientation — forward degree O(sqrt m), triangle credits explode
    exactly 3·n_triangles rows (never the wedge set), shuffle-hash
    adjacency joins; the histogram is one 11-ary keyed agg. The
    operator's internal eager checkpoint releases its caches, so the
    fingerprinted plan pins the bucket readout (the LPA-family
    precedent).
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # raw basket pairs: triangle_counts_per_node canonicalises +
    # distincts internally
    pairs = _basket_pairs(li, "l_orderkey", "l_partkey").select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    )
    pernode = triangle_counts_per_node(pairs)
    scored = pernode.select(
        "node",
        "triangles",
        F.expr(
            "CASE WHEN d < 2 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((CAST(2000000 AS DECIMAL(38,0)) * triangles)"
            "  div (CAST(d AS DECIMAL(38,0)) * (d - 1)) AS BIGINT) END"
        ).alias("lcc_ppm"),
    )
    return (
        scored.groupBy(
            F.expr(
                "coalesce(least(lcc_ppm div 100000, CAST(9 AS BIGINT)),"
                " CAST(-1 AS BIGINT))"
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("lcc_ppm").alias("min_lcc_ppm"),
            F.max("lcc_ppm").alias("max_lcc_ppm"),
            F.sum("triangles").cast("bigint").alias("sum_triangles"),
        )
        .orderBy("bucket")
    )


_KCORE_K = 20
_KCORE_ROUNDS = 8


def kcore_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Degree histogram of the 20-core of the customer—part co-purchase
    graph (operators/graph.kcore_degrees): nodes surviving 8 fixed
    peel rounds of "drop degree < 20", with a fail-loud convergence
    assert so the output IS the true k-core.

    The k-core is the standard graph-density quality filter (documents
    /pages embedded in a dense interaction core are high-signal); here
    it keeps customers with >= 20 distinct parts whose parts are
    themselves co-bought by >= 20 surviving customers, cascading.

    Nodes iterate as BIGINT (2·custkey / 2·partkey+1) — eight rounds
    of shuffling longs, not strings — and render to 'c…'/'p…' labels
    only in the final histogram, where the oracle's string min/max
    tiebreak applies. The unrolled-CTE oracle mirrors the peel
    round-for-round (rounds past the fixpoint are no-ops on both
    sides).
    """
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    deg = kcore_degrees(cp, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return (
        deg.select(render_node("node").alias("node"), "core_deg")
        .groupBy("core_deg")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


def recursive_ancestor_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive-CTE reachability (Spark 4 WITH RECURSIVE): walk every
    customer key up its integer-halving ancestor chain (parent(k) =
    k div 2) to the root 0 and histogram chain depths.

    Exercises the engine's recursive-union execution — each step is
    one self-union over the frontier, ~log2(max key) steps total, and
    the per-step frontier shrinks monotonically. Integer-only, so the
    DuckDB WITH RECURSIVE twin matches exactly.
    """
    return spark.sql(
        f"""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS start, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
          FROM parquet.`{sf}/customer.parquet`
          UNION ALL
          SELECT start, cur div 2, CAST(depth + 1 AS BIGINT) FROM chain WHERE cur > 0
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(MIN(start) AS BIGINT) AS min_custkey,
               CAST(MAX(start) AS BIGINT) AS max_custkey
        FROM chain WHERE cur = 0
        GROUP BY depth
        """
    )


def _pagerank_oracle(iters: int = _PR_ITERS, topk: int = _TOPK) -> str:
    """Unrolled CTE chain mirroring pagerank_integer exactly (same
    fixed-point arithmetic; DuckDB's // is the same floor-on-positive
    division as Spark's div)."""
    base = (15 * RANK_SCALE) // 100
    chain = [
        f"""edges AS (
  SELECT src, dst FROM (
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    'p' || CAST(l.l_partkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  )
  UNION ALL
  SELECT dst AS src, src AS dst FROM (
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    'p' || CAST(l.l_partkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  )
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(iters):
        chain.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         CAST({base} + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.deg) AS inflow
    FROM edges e JOIN deg d ON e.src = d.src JOIN r{i} r ON r.node = e.src
    GROUP BY e.dst
  ) i ON n.node = i.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT node, rank FROM r{iters} ORDER BY rank DESC, node LIMIT {topk}"
    )


def _pagerank_weighted_oracle(iters: int = _PR_ITERS, topk: int = _TOPK) -> str:
    """Unrolled weighted CTE chain: contrib = (rank·w) // W_out."""
    base = (15 * RANK_SCALE) // 100
    chain = [
        """pairs AS (
  SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
         'p' || CAST(l.l_partkey AS VARCHAR) AS pnode,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
)""",
        """edges AS (
  SELECT cnode AS src, pnode AS dst, w FROM pairs
  UNION ALL
  SELECT pnode AS src, cnode AS dst, w FROM pairs
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges)",
        "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(iters):
        chain.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         CAST({base} + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS inflow
    FROM edges e JOIN deg d ON e.src = d.src JOIN r{i} r ON r.node = e.src
    GROUP BY e.dst
  ) i ON n.node = i.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT node, rank FROM r{iters} ORDER BY rank DESC, node LIMIT {topk}"
    )


def _pagerank_dangling_oracle(iters: int = _DANGLING_ITERS, topk: int = _TOPK) -> str:
    """Unrolled CTE mirroring pagerank_integer(dangling="redistribute")
    on the customer→nation graph: per round, share_i = (sum of sink
    ranks) // n_nodes is added to every node's inflow before damping."""
    base = (15 * RANK_SCALE) // 100
    chain = [
        """edges AS (
  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS src,
                  'n' || CAST(c_nationkey AS VARCHAR) AS dst
  FROM customer
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)",
        f"r0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(iters):
        chain.append(
            f"""s{i} AS (
  SELECT (SELECT COALESCE(SUM(r.rank), 0)
          FROM r{i} r LEFT JOIN deg d ON r.node = d.src
          WHERE d.src IS NULL) // n_nodes AS share
  FROM nn
)"""
        )
        chain.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         CAST({base} + (85 * (COALESCE(i.inflow, 0) + s.share)) // 100 AS BIGINT) AS rank
  FROM nodes n CROSS JOIN s{i} s LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.deg) AS inflow
    FROM edges e JOIN deg d ON e.src = d.src JOIN r{i} r ON r.node = e.src
    GROUP BY e.dst
  ) i ON n.node = i.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT node, rank FROM r{iters} ORDER BY rank DESC, node LIMIT {topk}"
    )


def _ppr_oracle(iters: int = _PPR_ITERS, topk: int = _TOPK) -> str:
    """Unrolled CTE mirroring pagerank_integer(seeds=) on the
    nation-0-seeded co-purchase graph: teleport base lands only on
    seed nodes, scaled (15·init·n_nodes)//(100·n_seeds); rank starts
    at init on seeds, 0 elsewhere."""
    chain = [
        """cp AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
                  'p' || CAST(l.l_partkey AS VARCHAR) AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)",
        "deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src)",
        """sg AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(c_custkey AS VARCHAR) AS node
  FROM customer WHERE c_nationkey = 0
  INTERSECT
  SELECT node FROM nodes
)""",
        """k AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sg) AS n_seeds
)""",
        f"""r0 AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN CAST({RANK_SCALE} AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS rank
  FROM nodes n LEFT JOIN sg s ON n.node = s.node
)""",
    ]
    base = (
        f"CASE WHEN s.node IS NOT NULL THEN "
        f"(CAST(15 AS BIGINT) * {RANK_SCALE} * k.n_nodes) // (100 * k.n_seeds) "
        f"ELSE 0 END"
    )
    for i in range(iters):
        chain.append(
            f"""r{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CAST({base} + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n
  CROSS JOIN k
  LEFT JOIN sg s ON n.node = s.node
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.deg) AS inflow
    FROM edges e JOIN deg d ON e.src = d.src JOIN r{i} r ON r.node = e.src
    GROUP BY e.dst
  ) i ON n.node = i.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT node, rank FROM r{iters} ORDER BY rank DESC, node LIMIT {topk}"
    )


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled CTE chain mirroring kcore_degrees round-for-round:
    per round, drop every edge incident to a node whose current degree
    is below k. Rounds past the fixpoint are no-ops, matching the
    Spark side's fixed unroll + convergence assert. Every per-round
    CTE is MATERIALIZED: each round references its predecessor three
    times (degree + both NOT EXISTS), so DuckDB's default inlining
    would expand the tree 3^rounds deep and exhaust file handles on
    the leaf parquet scans."""
    chain = [
        """cp AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
                  'p' || CAST(l.l_partkey AS VARCHAR) AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """e0 AS MATERIALIZED (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
)""",
    ]
    for i in range(rounds):
        chain.append(
            f"b{i} AS MATERIALIZED "
            f"(SELECT src FROM e{i} GROUP BY src HAVING COUNT(*) < {k})"
        )
        chain.append(
            f"""e{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i} e
  WHERE NOT EXISTS (SELECT 1 FROM b{i} b WHERE b.src = e.src)
    AND NOT EXISTS (SELECT 1 FROM b{i} b WHERE b.src = e.dst)
)"""
        )
    chain.append(
        f"""d AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
  FROM e{rounds} GROUP BY src
)"""
    )
    return (
        "WITH "
        + ",\n".join(chain)
        + """
SELECT core_deg,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(node) AS min_node,
       MAX(node) AS max_node
FROM d GROUP BY core_deg"""
    )


_HITS_ITERS = 2
_HITS_TOPK = 10


def hits_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 hub customers and top-10 authority parts of the directed
    customer→part purchase graph by 2-iteration integer HITS
    (operators/graph.hits_integer, L1-renormalized fixed-point BIGINT)
    — the classic complement to PageRank on a bipartite incidence:
    good hubs buy many good authorities, good authorities are bought
    by many good hubs. 20 rows (kind, node, score), ordered inside
    each kind by (score DESC, label ASC) exactly as the unrolled
    HUGEINT CTE oracle replays.

    Nodes travel as BIGINT (2·custkey / 2·partkey+1 — the two TPC-H
    key spaces overlap, and a general-graph operator must see them as
    distinct nodes) and render to 'c…'/'p…' labels only in the final
    20-row projection.
    """
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
    )
    auth, hubs = hits_integer(edges, iters=_HITS_ITERS)
    top_a = (
        auth.select(F.lit("auth").alias("kind"), render_node("node").alias("node"),
                    F.col("auth").alias("score"))
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(_HITS_TOPK)
    )
    top_h = (
        hubs.select(F.lit("hub").alias("kind"), render_node("node").alias("node"),
                    F.col("hub").alias("score"))
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(_HITS_TOPK)
    )
    return top_a.unionAll(top_h)


def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree-assortativity readout of the symmetrised customer—part
    co-purchase graph: over every directed edge, x = deg(src) and
    y = deg(dst); one row of moments (m, Σx, Σx², Σxy) plus the
    Pearson correlation in exact ppm. Accumulation is exact
    DECIMAL(38,0) internally (both engines cast the degree BEFORE the
    products, so no pre-cast LONG/HUGEINT overflow divergence), but
    the FINAL schema emits BIGINT: the repo-wide final-schema gate in
    tests/test_plan_quality.py pins every final column to the proven
    type surface, which has no DECIMAL(38,0). The BIGINT casts have ~10 orders of magnitude
    of headroom at gate scale; at true 100 TB emit the raw moments
    pre-reduced per shard or as strings. Because the edge list is
    symmetric, both marginals are identical, so the usual sqrt in
    Pearson's denominator cancels:
    r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — a pure integer ratio,
    emitted as r_ppm = (10⁶·num) div den (truncating div; the oracle
    CASE-spells DuckDB's flooring // for the possibly-negative
    numerator), and NULL on both engines when the denominator is 0
    on both sides). Bipartite incidence graphs are strongly
    DISASSORTATIVE (hubs attach to leaves), so r_ppm < 0 is the
    expected signal.

    Scale shape: one orders⋈lineitem shuffle for the edge list, one
    degree aggregate, two keyed joins attaching deg to each endpoint
    (each shuffles on its key), one scalar moment aggregate. Nothing
    super-linear, no windows.
    """
    with cache_scope() as cs:
        cp = cs.persist(_copurchase(spark, sf))
        edges = sym_edges(cp, "cnode", "pnode")
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        ds = deg.select(F.col("src").alias("__s"), F.col("d").alias("dx"))
        dd = deg.select(F.col("src").alias("__d"), F.col("d").alias("dy"))
        m = (
            edges.join(ds, edges["src"] == ds["__s"])
            .join(dd, edges["dst"] == dd["__d"])
            .agg(
                F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
                F.sum(F.col("dx").cast("decimal(38,0)")).alias("sum_x"),
                F.sum(
                    F.col("dx").cast("decimal(19,0)") * F.col("dx").cast("decimal(19,0)")
                ).alias("sum_xx"),
                F.sum(
                    F.col("dx").cast("decimal(19,0)") * F.col("dy").cast("decimal(19,0)")
                ).alias("sum_xy"),
            )
        )
        out = m.select(
            F.col("m").cast("bigint").alias("m"),
            F.col("sum_x").cast("bigint").alias("sum_x"),
            F.col("sum_xx").cast("bigint").alias("sum_xx"),
            F.col("sum_xy").cast("bigint").alias("sum_xy"),
            F.expr(
                "CASE WHEN (m * sum_xx - sum_x * sum_x) = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST((1000000 * (m * sum_xy - sum_x * sum_x))"
                " div (m * sum_xx - sum_x * sum_x) AS BIGINT) END"
            ).alias("r_ppm"),
        )
        return cs.result(out)


_BALL_SEEDS = 20
_BALL_HOPS = 3


def graph_seed_ball_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-seed neighborhood growth over the symmetrised
    co-purchase graph (operators/graph.multi_source_ball_sizes): for
    the 20 lowest customer keys, the number of nodes at distance
    exactly 0..3 — the exact small-cohort neighborhood function
    (the readout ANF/HyperBall approximate at full-graph scale),
    i.e. each seed customer's influence-growth curve through the
    retail incidence. Labeled Pregel BFS on the (seed, node) key:
    per round one frontier-keyed join + distinct + (seed, node) anti
    join; state is Σ ball sizes — linear in the bounded seed count.

    Nodes travel as BIGINT (2·custkey / 2·partkey+1); seeds render
    back to 'c…' labels in the bounded final rollup. WITH RECURSIVE
    twin carries the seed through the recursion and min-reduces
    distance per (seed, node).
    """
    from fsc_etl_spark.operators.graph import multi_source_ball_sizes

    with cache_scope() as cs:
        cp = cs.persist(_copurchase(spark, sf))
        edges = sym_edges(cp, "cnode", "pnode")
        seeds = (
            t(spark, sf, "customer")
            .select((F.col("c_custkey") * 2).alias("node"))
            .orderBy("node")
            .limit(_BALL_SEEDS)
        )
        balls = multi_source_ball_sizes(edges, seeds, max_hops=_BALL_HOPS)
    return balls.select(
        render_node("seed").alias("seed"),
        F.col("dist").cast("bigint").alias("dist"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
    )


QUERIES = {
    "bfs_hops_copurchase": bfs_hops_copurchase,
    "hits_copurchase": hits_copurchase,
    "graph_assortativity": graph_assortativity,
    "graph_seed_ball_sizes": graph_seed_ball_sizes,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_adamic_adar": graph_adamic_adar,
    "kcore_copurchase": kcore_copurchase,
    "pagerank_copurchase": pagerank_copurchase,
    "pagerank_dangling_redistribute": pagerank_dangling_redistribute,
    "ppr_copurchase_seeds": ppr_copurchase_seeds,
    "pagerank_weighted_copurchase": pagerank_weighted_copurchase,
    "recursive_ancestor_depth": recursive_ancestor_depth,
    "triangle_count_coparts": triangle_count_coparts,
    "ktruss_coparts": ktruss_coparts,
    "graph_label_propagation": graph_label_propagation,
    "community_modularity": community_modularity,
    "graph_conductance": graph_conductance,
    "local_clustering_coeff": local_clustering_coeff,
}

GRAPH_ORACLES = {
    "bfs_hops_copurchase": """
WITH RECURSIVE cp AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
                  'p' || CAST(l.l_partkey AS VARCHAR) AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
),
bfs AS (
  SELECT 'c0' AS node, CAST(0 AS BIGINT) AS d
  UNION ALL
  SELECT e.dst, CAST(b.d + 1 AS BIGINT) FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.d < 3
),
md AS (SELECT node, MIN(d) AS dist FROM bfs GROUP BY node)
SELECT dist,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(node) AS min_node,
       MAX(node) AS max_node
FROM md GROUP BY dist
""",
    "graph_common_neighbors": f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
rare AS (SELECT part FROM cp GROUP BY part HAVING COUNT(*) <= {_CN_MAX_PART_FANOUT}),
cpr AS MATERIALIZED (SELECT cp.cust, cp.part FROM cp JOIN rare USING (part)),
deg AS (SELECT cust, CAST(COUNT(*) AS BIGINT) AS deg FROM cpr GROUP BY cust),
common AS (
  SELECT a.cust AS id_a, b.cust AS id_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM cpr a JOIN cpr b ON a.part = b.part AND a.cust < b.cust
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.common,
       CAST((1000000 * c.common) // (da.deg + db.deg - c.common) AS BIGINT)
         AS jaccard_ppm
FROM common c
JOIN deg da ON da.cust = c.id_a
JOIN deg db ON db.cust = c.id_b
ORDER BY jaccard_ppm DESC, c.common DESC, c.id_a ASC, c.id_b ASC
LIMIT {_CN_TOPK}
""",
    # Same blocked pair expansion; the Adamic–Adar weight is a lookup
    # into the SAME pinned integer-literal table the Spark plan uses
    # (1-based list index n_cust-1 == element_at(arr, n_cust-1)), so
    # no ln/float crosses engines.
    "graph_adamic_adar": f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
nzw AS (
  SELECT part, ({list(_AA_WEIGHTS)})[COUNT(*) - 1] AS w
  FROM cp GROUP BY part
  HAVING COUNT(*) BETWEEN 2 AND {_CN_MAX_PART_FANOUT}
),
cpr AS MATERIALIZED (SELECT cp.cust, cp.part, nzw.w FROM cp JOIN nzw USING (part))
SELECT a.cust AS id_a, b.cust AS id_b,
       CAST(COUNT(*) AS BIGINT) AS common,
       CAST(SUM(a.w) AS BIGINT) AS aa_micro
FROM cpr a JOIN cpr b ON a.part = b.part AND a.cust < b.cust
GROUP BY 1, 2
ORDER BY aa_micro DESC, common DESC, id_a ASC, id_b ASC
LIMIT {_AA_TOPK}
""",
    "kcore_copurchase": _kcore_oracle(),
    "pagerank_copurchase": _pagerank_oracle(),
    "pagerank_dangling_redistribute": _pagerank_dangling_oracle(),
    "ppr_copurchase_seeds": _ppr_oracle(),
    "pagerank_weighted_copurchase": _pagerank_weighted_oracle(),
    "triangle_count_coparts": """
WITH canon AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nodes AS (SELECT lo AS node FROM canon UNION SELECT hi AS node FROM canon),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT lo AS node FROM canon UNION ALL SELECT hi AS node FROM canon)
  GROUP BY node
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM canon) AS n_edges,
  (SELECT CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM canon e1
   JOIN canon e2 ON e1.hi = e2.lo
   JOIN canon e3 ON e3.lo = e1.lo AND e3.hi = e2.hi) AS n_triangles
""",
    "recursive_ancestor_depth": """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS start, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
  FROM customer
  UNION ALL
  SELECT start, cur // 2, CAST(depth + 1 AS BIGINT) FROM chain WHERE cur > 0
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(start) AS BIGINT) AS min_custkey,
       CAST(MAX(start) AS BIGINT) AS max_custkey
FROM chain WHERE cur = 0
GROUP BY depth
""",
}


#: Symmetrised bipartite customer—part incidence under the BIGINT
#: parity node encoding — the graph_label_propagation fixture.
_LPA_EDGES_COPURCHASE = [
    """cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_partkey * 2 + 1 AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
    """edges AS MATERIALIZED (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
)""",
]

#: Symmetrised co-parts projection (parts linked when co-ordered) —
#: the community_modularity fixture (triangle/ktruss graph).
_LPA_EDGES_COPARTS = [
    """canon AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
    """edges AS MATERIALIZED (
  SELECT lo AS src, hi AS dst FROM canon
  UNION ALL
  SELECT hi AS src, lo AS dst FROM canon
)""",
]


def _lpa_chain(rounds: int, edge_ctes: list[str] | None = None) -> list[str]:
    """Shared unrolled label-propagation CTE chain (edge prefix +
    l0..l{rounds}) used by both the LPA oracle and the modularity
    oracle: per round, (node, lab) counts over the edge join, argmax
    by (cnt DESC, lab DESC) via ROW_NUMBER — the same (count, label)
    struct-max total order the Spark rounds use. ``edge_ctes`` must
    define an ``edges(src, dst)`` CTE (symmetrised); defaults to the
    co-purchase bipartite incidence. Each round MATERIALIZED (l{i} is
    read by the next round's join; the final one by every downstream
    readout)."""
    chain = list(edge_ctes if edge_ctes is not None else _LPA_EDGES_COPURCHASE)
    chain.append("l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)")
    for i in range(1, rounds + 1):
        chain.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, lab AS label FROM (
    SELECT n.node, n.lab,
           ROW_NUMBER() OVER (PARTITION BY n.node
                              ORDER BY n.cnt DESC, n.lab DESC) AS rn
    FROM (SELECT e.dst AS node, l.label AS lab, COUNT(*) AS cnt
          FROM edges e JOIN l{i - 1} l ON l.node = e.src
          GROUP BY 1, 2) n
  ) WHERE rn = 1
)"""
        )
    return chain


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled label-propagation twin over :func:`_lpa_chain`,
    rendered to 'c…'/'p…' only in the final projection."""
    chain = _lpa_chain(rounds)
    chain.append(
        f"""sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
  FROM l{rounds} GROUP BY label
)"""
    )
    render = (
        "(CASE WHEN {0} % 2 = 0 THEN 'c' ELSE 'p' END) "
        "|| CAST({0} // 2 AS VARCHAR)"
    )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"\nSELECT {render.format(f'l{rounds}.node')} AS node,\n"
        f"       {render.format(f'l{rounds}.label')} AS label,\n"
        f"       sizes.community_size\n"
        f"FROM l{rounds} JOIN sizes USING (label)"
    )


GRAPH_ORACLES["graph_label_propagation"] = _lpa_oracle()


def _modularity_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Modularity twin over the SAME unrolled LPA chain: directed
    intra-community edge count per label, per-community degree mass,
    then the one-row Q readout in HUGEINT with Spark's truncating
    `div` CASE-spelled over DuckDB's flooring `//` (the assortativity
    discipline — the numerator can be negative on a bad partition)."""
    chain = _lpa_chain(rounds, edge_ctes=_LPA_EDGES_COPARTS)
    chain.append(
        "deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d"
        " FROM edges GROUP BY src)"
    )
    chain.append(
        f"""internal AS (
  SELECT ls.label AS label, CAST(COUNT(*) AS HUGEINT) AS e_c
  FROM edges e
  JOIN l{rounds} ls ON ls.node = e.src
  JOIN l{rounds} ld ON ld.node = e.dst
  WHERE ls.label = ld.label
  GROUP BY 1
)"""
    )
    chain.append(
        f"""comm AS (
  SELECT l.label, SUM(deg.d) AS d_c
  FROM l{rounds} l JOIN deg ON deg.src = l.node
  GROUP BY 1
)"""
    )
    chain.append(
        """gmod AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_comm,
         SUM(COALESCE(i.e_c, CAST(0 AS HUGEINT))) AS sum_e,
         SUM(c.d_c * c.d_c) AS sum_d2,
         (SELECT CAST(COUNT(*) AS HUGEINT) FROM edges) AS two_m
  FROM comm c LEFT JOIN internal i USING (label)
)"""
    )
    return (
        "WITH "
        + ",\n".join(chain)
        + """
SELECT CAST(n_comm AS BIGINT) AS n_communities,
       CAST(two_m AS BIGINT) AS two_m,
       CAST(sum_e AS BIGINT) AS internal_edges,
       CAST(sum_d2 AS BIGINT) AS deg_sq_sum,
       CAST(CASE WHEN two_m = 0 THEN NULL
                 WHEN 1000000 * (two_m * sum_e - sum_d2) >= 0
                 THEN (1000000 * (two_m * sum_e - sum_d2)) // (two_m * two_m)
                 ELSE -((-(1000000 * (two_m * sum_e - sum_d2))) // (two_m * two_m))
            END AS BIGINT) AS q_ppm
FROM gmod"""
    )


GRAPH_ORACLES["community_modularity"] = _modularity_oracle()


def _conductance_oracle(
    rounds: int = _LPA_ROUNDS, topk: int = _COND_TOPK
) -> str:
    """Conductance twin over the SAME unrolled LPA chain as the
    modularity oracle: per-label directed internal edges and degree
    mass, cut = vol − e_c, φ_ppm = (10⁶·cut) // min(vol, 2m−vol) in
    HUGEINT — every operand non-negative, so DuckDB's flooring `//`
    equals Spark's truncating `div` with no sign CASE."""
    chain = _lpa_chain(rounds, edge_ctes=_LPA_EDGES_COPARTS)
    chain.append(
        "deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d"
        " FROM edges GROUP BY src)"
    )
    chain.append(
        f"""internal AS (
  SELECT ls.label AS label, CAST(COUNT(*) AS HUGEINT) AS e_c
  FROM edges e
  JOIN l{rounds} ls ON ls.node = e.src
  JOIN l{rounds} ld ON ld.node = e.dst
  WHERE ls.label = ld.label
  GROUP BY 1
)"""
    )
    chain.append(
        f"""comm AS (
  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS community_size,
         SUM(deg.d) AS vol
  FROM l{rounds} l JOIN deg ON deg.src = l.node
  GROUP BY 1
)"""
    )
    chain.append(
        """cond AS (
  SELECT c.label, c.community_size, c.vol,
         c.vol - COALESCE(i.e_c, CAST(0 AS HUGEINT)) AS cut,
         (SELECT CAST(COUNT(*) AS HUGEINT) FROM edges) AS two_m
  FROM comm c LEFT JOIN internal i USING (label)
)"""
    )
    return (
        "WITH "
        + ",\n".join(chain)
        + f"""
SELECT CAST(label AS BIGINT) AS label,
       community_size,
       CAST(vol AS BIGINT) AS vol,
       CAST(cut AS BIGINT) AS cut_edges,
       CAST(CASE WHEN LEAST(vol, two_m - vol) = 0 THEN NULL
                 ELSE (1000000 * cut) // LEAST(vol, two_m - vol)
            END AS BIGINT) AS phi_ppm
FROM cond
ORDER BY community_size DESC, label
LIMIT {topk}"""
    )


GRAPH_ORACLES["graph_conductance"] = _conductance_oracle()

# Local-clustering-coefficient twin: plain three-way triangle join
# (each triangle found once at a < b < c), per-node credits via UNION
# ALL, then the same non-negative HUGEINT lcc arithmetic — flooring //
# == Spark's truncating div throughout.
GRAPH_ORACLES["local_clustering_coeff"] = """
WITH canon AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT lo AS node FROM canon UNION ALL SELECT hi AS node FROM canon)
  GROUP BY node
),
tris AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM canon e1
  JOIN canon e2 ON e1.hi = e2.lo
  JOIN canon e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
credits AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
),
tri AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM credits GROUP BY node),
scored AS (
  SELECT deg.node,
         COALESCE(tri.triangles, 0) AS triangles,
         CASE WHEN deg.d < 2 THEN NULL
              ELSE CAST((CAST(2000000 AS HUGEINT) * COALESCE(tri.triangles, 0))
                   // (CAST(deg.d AS HUGEINT) * (deg.d - 1)) AS BIGINT)
         END AS lcc_ppm
  FROM deg LEFT JOIN tri USING (node)
)
SELECT COALESCE(LEAST(lcc_ppm // 100000, 9), -1) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       MIN(lcc_ppm) AS min_lcc_ppm,
       MAX(lcc_ppm) AS max_lcc_ppm,
       CAST(SUM(triangles) AS BIGINT) AS sum_triangles
FROM scored
GROUP BY 1
ORDER BY bucket
"""


def _hits_oracle(iters: int = _HITS_ITERS, topk: int = _HITS_TOPK) -> str:
    """Unrolled HUGEINT CTE chain mirroring hits_integer: per round
    a_raw = SUM(h) over in-edges then L1 renormalize to RANK_SCALE via
    flooring //, then the hub step symmetric — every operand positive,
    so DuckDB's flooring // equals Spark's truncating div."""
    s = RANK_SCALE
    chain = [
        """e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        f"h0 AS (SELECT DISTINCT c, CAST({s} AS HUGEINT) AS v FROM e)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        chain.append(
            f"""a{i}r AS (
  SELECT e.p, SUM({prev_h}.v) AS raw
  FROM e JOIN {prev_h} ON e.c = {prev_h}.c GROUP BY e.p
)"""
        )
        chain.append(
            f"""a{i} AS (
  SELECT p, CAST((CAST(raw AS HUGEINT) * {s})
                 // (SELECT SUM(raw) FROM a{i}r) AS BIGINT) AS v
  FROM a{i}r
)"""
        )
        chain.append(
            f"""h{i}r AS (
  SELECT e.c, SUM(CAST(a{i}.v AS HUGEINT)) AS raw
  FROM e JOIN a{i} ON e.p = a{i}.p GROUP BY e.c
)"""
        )
        chain.append(
            f"""h{i} AS (
  SELECT c, CAST((CAST(raw AS HUGEINT) * {s})
                 // (SELECT SUM(raw) FROM h{i}r) AS BIGINT) AS v
  FROM h{i}r
)"""
        )
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n".join(chain)
        + f"""
SELECT * FROM (
  SELECT 'auth' AS kind, 'p' || CAST(p AS VARCHAR) AS node, v AS score
  FROM a{iters} ORDER BY v DESC, node ASC LIMIT {topk}
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS kind, 'c' || CAST(c AS VARCHAR) AS node, v AS score
  FROM h{iters} ORDER BY v DESC, node ASC LIMIT {topk}
)"""
    )


GRAPH_ORACLES["hits_copurchase"] = _hits_oracle()

# Degree-assortativity moments + exact-ppm Pearson over the symmetric
# copurchase edge list; the numerator can be negative, so Spark's
# truncating div is CASE-spelled over DuckDB's flooring //; HUGEINT
# accumulation internal, BIGINT final schema (VERDICT r10 #1 — the
# driver's hash canonicalization has no DECIMAL(38,0) precedent), and
# a den=0 guard emitting NULL like Spark (ADVICE r10).
GRAPH_ORACLES["graph_assortativity"] = """
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_partkey * 2 + 1 AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
),
deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d FROM edges GROUP BY src),
mom AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         SUM(dx.d) AS sum_x,
         SUM(dx.d * dx.d) AS sum_xx,
         SUM(dx.d * dy.d) AS sum_xy
  FROM edges e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src
)
SELECT CAST(m AS BIGINT) AS m,
       CAST(sum_x AS BIGINT) AS sum_x,
       CAST(sum_xx AS BIGINT) AS sum_xx,
       CAST(sum_xy AS BIGINT) AS sum_xy,
       CAST(CASE WHEN m * sum_xx - sum_x * sum_x = 0 THEN NULL
                 WHEN 1000000 * (m * sum_xy - sum_x * sum_x) >= 0
                 THEN (1000000 * (m * sum_xy - sum_x * sum_x))
                      // (m * sum_xx - sum_x * sum_x)
                 ELSE -((-(1000000 * (m * sum_xy - sum_x * sum_x)))
                        // (m * sum_xx - sum_x * sum_x))
            END AS BIGINT) AS r_ppm
FROM mom
"""


# Per-seed exact neighborhood function: the recursion carries the
# seed; a (seed, node) MIN-reduce gives the distance and the rollup
# counts nodes per (seed, dist). The customer seed set is the same
# bounded ORDER BY/LIMIT selection on both engines.
GRAPH_ORACLES["graph_seed_ball_sizes"] = f"""
WITH RECURSIVE cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_partkey * 2 + 1 AS pnode
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT cnode AS src, pnode AS dst FROM cp
  UNION ALL
  SELECT pnode AS src, cnode AS dst FROM cp
),
seeds AS (
  SELECT c_custkey * 2 AS node FROM customer ORDER BY node LIMIT {_BALL_SEEDS}
),
bfs AS (
  SELECT node AS seed, node, CAST(0 AS BIGINT) AS d FROM seeds
  UNION ALL
  SELECT b.seed, e.dst, CAST(b.d + 1 AS BIGINT)
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.d < {_BALL_HOPS}
),
md AS (SELECT seed, node, MIN(d) AS dist FROM bfs GROUP BY seed, node)
SELECT 'c' || CAST(seed // 2 AS VARCHAR) AS seed,
       dist,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM md GROUP BY seed, dist
"""


def _ktruss_oracle(k: int = _KTRUSS_K, rounds: int = _KTRUSS_ROUNDS) -> str:
    """Unrolled CTE chain mirroring ktruss_support round-for-round:
    per round, per-edge support = common-neighbor count via the
    unoriented wedge join (the oracle states the DEFINITION; the
    Spark side computes the same number through degree-oriented
    triangle enumeration — genuinely different mechanism), then drop
    every edge below k-2. Rounds past the fixpoint are no-ops
    (monotone peeling), matching the Spark side's fixed unroll +
    convergence contract. Every per-round CTE is MATERIALIZED (the
    kcore-oracle lesson: each round is referenced multiple times and
    default inlining would grow the tree exponentially)."""
    chain = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
)""",
    ]
    for i in range(rounds):
        chain.append(
            f"""u{i} AS MATERIALIZED (
  SELECT lo AS u, hi AS v FROM e{i}
  UNION ALL
  SELECT hi AS u, lo AS v FROM e{i}
)"""
        )
        chain.append(
            f"""s{i} AS MATERIALIZED (
  SELECT e.lo, e.hi, CAST(COUNT(*) AS BIGINT) AS sup
  FROM e{i} e
  JOIN u{i} n1 ON n1.u = e.lo
  JOIN u{i} n2 ON n2.u = e.hi AND n2.v = n1.v
  GROUP BY e.lo, e.hi
)"""
        )
        chain.append(
            f"""f{i} AS MATERIALIZED (
  SELECT e.lo, e.hi, COALESCE(s.sup, 0) AS sup
  FROM e{i} e LEFT JOIN s{i} s ON s.lo = e.lo AND s.hi = e.hi
)"""
        )
        chain.append(
            f"e{i + 1} AS MATERIALIZED "
            f"(SELECT lo, hi FROM f{i} WHERE sup >= {k - 2})"
        )
    # Convergence guard (ADVICE r11): peeling drops edges strictly, so
    # "the final round peeled nothing" <=> COUNT(e_{rounds-1}) ==
    # COUNT(e_rounds) <=> the Spark side's early-exit fired within
    # ``rounds``. When it didn't, the Spark side raises ValueError —
    # this CASE makes DuckDB error() instead of silently returning the
    # partial peel, so the two engines fail loudly TOGETHER. The CASE
    # (not a bare OR) is what stops DuckDB constant-folding error()
    # at plan time; empty-truss is a fixpoint (0 == 0), so the guard
    # passes there too.
    return (
        "WITH "
        + ",\n".join(chain)
        + f"""
SELECT CAST(sup AS BIGINT) AS sup,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MIN(lo) AS BIGINT) AS min_lo,
       CAST(MAX(hi) AS BIGINT) AS max_hi
FROM f{rounds - 1}
WHERE CASE WHEN (SELECT COUNT(*) FROM e{rounds - 1})
             = (SELECT COUNT(*) FROM e{rounds}) THEN TRUE
      ELSE error('k-truss oracle did not converge in {rounds} rounds')
      END
GROUP BY sup"""
    )


GRAPH_ORACLES["ktruss_coparts"] = _ktruss_oracle()
