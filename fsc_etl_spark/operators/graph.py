"""Distributed graph primitives over edge DataFrames.

No reference twin: the reference (a 549-line Databricks notebook ETL,
``main.py``) has no graph operators. These extend
SURVEY.md §2.12's training-pipeline surface — web-graph quality
signals (PageRank-style authority, triangle/wedge density) are
standard corpus-curation features for large-scale training data.

Everything here is integer-exact: ranks are fixed-point BIGINT/
DECIMAL, damping is an exact rational, and division is integer floor
division — so results are bit-identical across engines, data layouts,
and task-retry schedules (no float accumulation order-dependence),
which is what lets the DuckDB oracles hash-match.

Scale posture: each PageRank iteration is one shuffle-on-dst
aggregation over the edge list (the same join shape GraphX/Pregel
lowers to); the per-source degree is computed once and reused.
Personalized PageRank is the same loop (``pagerank_integer(seeds=)``)
with the teleport mass on the seeds; HITS keeps its own loop, since
its L1 renormalisation shares no arithmetic with damping.
The triangle census, the per-node triangle counts and the k-truss
peel read one degree-oriented closure (:func:`triangle_closure`),
which intersects sorted forward adjacencies and never materialises
the wedge set. BFS and the per-seed ball sizes share one frontier
loop (:func:`frontier_bfs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import CacheScope, cache_scope
from fsc_etl_spark.operators.pairs import sym_edges

#: fixed-point scale for integer PageRank and HITS: rank 1.0 == 10^9 units.
RANK_SCALE = 10**9
#: PageRank damping 85/100, an exact rational.
DAMPING_NUM, DAMPING_DEN = 85, 100


def pagerank_integer(
    edges: DataFrame,
    iters: int = 5,
    seeds: DataFrame | None = None,
    every_node_has_inflow: bool = False,
    weight_col: str | None = None,
    dangling: str = "error",
    validate: bool = True,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration integer PageRank over directed ``(src, dst)``.

    ``rank_{i+1}(v) = base(v) + (85 * inflow_i(v)) div 100`` with
    ``inflow_i(v) = sum_{u->v} (rank_i(u) div deg(u))`` — all BIGINT
    floor arithmetic, so the result is exactly reproducible (the small
    mass lost to flooring is the documented fixed-point trade; relative
    ordering of authorities is what the score is for). Ranks are in
    ``RANK_SCALE`` units and start at ``RANK_SCALE``; without seeds
    ``base(v) = (15 * RANK_SCALE) div 100`` for every node.

    ``seeds`` (a one-column ``node`` frame) makes it personalized
    PageRank: the teleport mass lands ONLY on the seeds, so rank
    measures proximity to them — the corpus-expansion primitive (grow
    a trusted seed cohort outward through the interaction graph).
    Seeds are intersected with the node set (a seed with no edges can
    neither receive nor spread mass); ranks start at ``RANK_SCALE`` on
    seeds and 0 elsewhere, and ``base(v) = (15 * RANK_SCALE *
    n_nodes) div (100 * n_seeds)`` on seeds and 0 elsewhere, so the
    total teleport mass matches the uniform variant. No seed in the
    node set raises ``ValueError``; seeds require ``dangling="error"``.

    Nodes are the union of edge endpoints. ``dangling`` controls nodes
    with no out-edge:

    - ``"error"`` (default): an input-validation aggregate counts them
      and raises ``ValueError`` — a general-graph caller never silently
      loses rank mass.
    - ``"drop"``: their mass is not propagated (the classic simplified
      recurrence; exactly mirrors oracles/tests that model inflow from
      out-edge owners only).
    - ``"redistribute"``: per round the total dangling rank ``D`` is
      spread evenly — every node's inflow gains ``D div n_nodes``
      (floor) before damping. Still pure BIGINT arithmetic, still
      bit-reproducible.

    ``every_node_has_inflow=True`` skips the per-iteration nodes-side
    left join (one fewer shuffle per round) AND the dangling check —
    ONLY safe for graphs where every node has both in- and out-edges,
    e.g. a symmetrised (undirected) graph, where dangling nodes are
    structurally impossible.

    ``weight_col`` names a positive BIGINT edge-weight column: a
    source's rank then splits proportionally, each edge receiving
    ``(rank · w) div W_src`` (W_src = the source's total out-weight)
    — still pure floor arithmetic, so still bit-reproducible. None
    (default) is the unweighted equal-split. With weights the caller
    must pass unique (src, dst) pairs (no distinct is applied) and
    rank·w must stay under 2^63; ``validate=True`` (default) enforces
    both with one aggregate over the weighted edge list (duplicate
    pairs → ValueError; conservative overflow bound
    ``max_w · 2·n_edges · RANK_SCALE < 2^63`` → ValueError). Trusted
    callers that construct unique pairs structurally (e.g. via
    groupBy) may pass ``validate=False`` to skip that one job.

    Returns (node, rank) with rank BIGINT.
    """
    if dangling not in ("error", "drop", "redistribute"):
        raise ValueError(f"dangling must be error|drop|redistribute, got {dangling!r}")
    if every_node_has_inflow and dangling == "redistribute":
        raise ValueError(
            "every_node_has_inflow asserts the graph has no dangling nodes "
            "(so there is no mass to redistribute) — drop one of the two flags"
        )
    if seeds is not None and dangling != "error":
        raise ValueError(f"seeds require dangling='error', got {dangling!r}")
    if weight_col is None:
        # assume_distinct: caller guarantees unique (src, dst) pairs
        # structurally (e.g. distinct canonical pairs + a parity-keyed
        # symmetrising union) — skips one full edge-sized shuffle.
        edges = edges.select("src", "dst")
        if not assume_distinct:
            edges = edges.distinct()
        edges = edges.withColumn("__w", F.lit(1).cast("long"))
    else:
        edges = edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("__w")
        )
    with cache_scope() as cs:
        # distinct/weighted edges persist: the edge-degree build and
        # (general path) the nodes union re-read this
        edges = cs.persist(edges)

        if weight_col is not None and validate:
            chk = edges.agg(
                F.count(F.lit(1)).alias("ne"),
                F.count_distinct(F.struct("src", "dst")).alias("nd"),
                F.max("__w").alias("mw"),
            ).first()
            if chk["ne"] and chk["nd"] != chk["ne"]:
                raise ValueError(
                    f"weighted PageRank requires unique (src, dst) pairs: "
                    f"{chk['ne'] - chk['nd']} duplicate edge(s) found"
                )
            # rank(v) <= sum(ranks) <= n_nodes*init <= 2*n_edges*init, so
            # rank*w stays in BIGINT if max_w * 2*ne * init < 2^63.
            mw, ne = chk["mw"], chk["ne"]
            if mw is not None and mw * 2 * ne * RANK_SCALE >= 2**63:
                raise ValueError(
                    "weighted PageRank rank*weight may overflow BIGINT: "
                    f"max_w={mw}, n_edges={ne} — "
                    "rescale weights, or cast the rank chain to decimal"
                )

        # Built once, reused by every iteration — pre-hashed on src so the
        # per-iteration rank join only shuffles the (small) rank side: the
        # cached InMemoryRelation's HashPartitioning(src) satisfies the
        # join's distribution requirement, so no edge re-shuffle per round.
        # Degree attaches via a src-partitioned window over the SAME
        # exchange (measured hash-identical): the former
        # groupBy+join+repartition build cost two edge-sized exchanges —
        # and at cluster scale the degree side of that join is node-sized,
        # NOT broadcastable, so it would shuffle too; one exchange + an
        # in-partition sort replaces all of it.
        edges_deg = cs.persist(
            edges.repartition(F.col("src")).withColumn(
                "deg", F.sum("__w").over(Window.partitionBy("src"))
            )
        )

        n_nodes = None
        if every_node_has_inflow:
            # symmetrised contract: src set == dst set == node set, so the
            # out-edge owners ARE the nodes and dangling is impossible.
            # Persisted: the seed semi-join and the node count re-read it.
            nodes = cs.persist(edges_deg.select(F.col("src").alias("node")).distinct())
        else:
            # both endpoints in one pass over the edge cache
            nodes = cs.persist(
                edges.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
            )
            dangling_nodes = cs.persist(
                nodes.join(
                    edges_deg.select(F.col("src").alias("node")), "node", "left_anti"
                )
            )
            if dangling != "drop":
                n_dangling = dangling_nodes.count()
                if n_dangling and dangling == "error":
                    raise ValueError(
                        f"{n_dangling} node(s) have no out-edge; their rank mass "
                        "would be lost. Pass dangling='drop' to accept that, "
                        "dangling='redistribute' for exact even redistribution, "
                        "or symmetrise the graph."
                    )
                if dangling == "redistribute":
                    n_nodes = nodes.count()

        seed_flag = None
        if seeds is None:
            base = F.lit(((DAMPING_DEN - DAMPING_NUM) * RANK_SCALE) // DAMPING_DEN)
            ranks = nodes.withColumn("rank", F.lit(RANK_SCALE).cast("long"))
        else:
            seed_distinct = seeds.select("node").distinct()
            seed_nodes = cs.persist(seed_distinct.join(nodes, "node", "left_semi"))
            # n_nodes and n_seeds in ONE action: count every node row and
            # count the non-null seed flags of the same broadcast left join.
            seed_hit = F.broadcast(seed_distinct.withColumn("__s", F.lit(True)))
            counts = nodes.join(seed_hit, "node", "left").agg(
                F.count(F.lit(1)).alias("__nn"), F.count("__s").alias("__ns")
            ).first()
            if counts["__ns"] == 0:
                raise ValueError("no seed intersects the graph's node set")
            teleport = (DAMPING_DEN - DAMPING_NUM) * RANK_SCALE * counts["__nn"]
            base_seed = teleport // (DAMPING_DEN * counts["__ns"])
            seed_flag = seed_nodes.withColumn("__is_seed", F.lit(True))
            is_seed = F.coalesce(F.col("__is_seed"), F.lit(False))
            base = F.when(is_seed, F.lit(base_seed)).otherwise(F.lit(0)).cast("long")
            nodes = cs.persist(nodes.join(F.broadcast(seed_flag), "node", "left"))
            init = F.when(is_seed, F.lit(RANK_SCALE)).otherwise(F.lit(0))
            ranks = nodes.select("node", init.cast("long").alias("rank"))
        redistribute = dangling == "redistribute" and n_nodes
        for it in range(iters):
            if it == 0:
                # ROUND 1 collapses algebraically: every node's rank is
                # the init constant (with seeds: init on seeds, 0
                # elsewhere), so the node-sized rank shuffle join becomes
                # the inlined constant — with seeds, a BROADCAST left join
                # of the contract-small seed set. LEFT (not semi): every
                # dst must keep its contrib row, because the
                # every_node_has_inflow path assigns ranks = contrib.
                # Same floor arithmetic, bit-identical.
                c = F.expr(f"(CAST({RANK_SCALE} AS BIGINT) * __w) div deg")
                pushed = edges_deg
                if seed_flag is not None:
                    by_src = F.broadcast(seed_flag.withColumnRenamed("node", "src"))
                    pushed = edges_deg.join(by_src, "src", "left")
                    c = F.when(is_seed, c).otherwise(F.lit(0).cast("long"))
            else:
                r = ranks.select(
                    F.col("node").alias("__rn"), F.col("rank").alias("__rr")
                )
                pushed = edges_deg.join(r, edges_deg["src"] == r["__rn"])
                c = F.expr("(__rr * __w) div deg")
            contrib = (
                pushed.select(F.col("dst").alias("node"), c.alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            if not every_node_has_inflow:
                contrib = nodes.join(contrib, "node", "left")
            elif seed_flag is not None:
                # contrib covers the full node set each round, so the seed
                # flag attaches as a broadcast map-side join
                contrib = contrib.join(F.broadcast(seed_flag), "node", "left")
            inflow = "coalesce(inflow, 0L)"
            if redistribute:
                # total dangling rank this round, spread evenly: one tiny
                # aggregate (dangling set is persisted) broadcast to all.
                share = ranks.join(dangling_nodes, "node", "left_semi").agg(
                    F.expr(f"coalesce(sum(rank), 0L) div {n_nodes}").alias("__share")
                )
                contrib = contrib.crossJoin(F.broadcast(share))
                inflow = f"({inflow} + __share)"
            ranks = contrib.select(
                "node",
                (base + F.expr(f"({DAMPING_NUM} * {inflow}) div {DAMPING_DEN}"))
                .cast("long")
                .alias("rank"),
            )
            if redistribute:
                # share + next round's contrib each re-read ranks: without
                # a per-round materialisation the lineage doubles per
                # iteration (2^iters re-evaluation). Lazy — the final
                # checkpoint materialises every round in one chain.
                ranks = cs.checkpoint(ranks, eager=False)
        # Eager also under plan_only: the fingerprint of an iterative
        # builder is its readout over this checkpoint.
        return cs.result(cs.checkpoint(ranks))


def label_propagation(
    edges: DataFrame, rounds: int = 3, assume_distinct: bool = False
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) in a DETERMINISTIC variant: every node starts with its
    own id as label; each round it adopts the most frequent label
    among its neighbors, ties broken toward the LARGEST label —
    (count, label) is a total order, so fixed rounds are
    bit-reproducible and the unrolled-CTE oracle hash-matches (the
    classic random tie-break is what makes textbook LPA
    non-deterministic; any fixed tie order preserves the algorithm).

    Caller contract: ``edges`` is a SYMMETRISED (undirected) edge
    list, so src set == dst set == node set and every node hears from
    at least one neighbor each round.

    Scale shape (the Pregel lowering): per round one join of the
    label frame against the edge list + ONE exchange of the joined
    votes on dst — both keyed aggregations ((node, label) counts, then
    the per-node argmax via one struct-max) run exchange-free on top
    of it, since HashPartitioning(dst) satisfies both groupings. Work
    per round is O(edges), rounds are fixed. (The former
    two-exchange agg chain — partial-agg on (dst, label), exchange,
    then a second exchange on dst — measured 1.3x slower at sf0.1 and
    2.2x slower at ten times that scale than this single raw-vote
    exchange;
    the two stage barriers cost more than the partial aggregation
    saves.)

    The result is a lazy plan: building it runs no Spark job, and the
    rounds execute with the caller's query. The rounds share the edge
    list's exchanges, which adaptive execution reuses, so its inputs
    are scanned once per query. A caller that reads the labels more
    than once persists them itself and releases the cache after its
    result is materialised. Synchronous LPA need not converge (it
    oscillates on near-bipartite graphs), so the rounds are a fixed
    unroll with no early exit.

    ``assume_distinct=True`` skips the defensive ``distinct()`` — ONLY
    safe when the caller constructs unique (src, dst) pairs
    structurally (e.g. a symmetrising union of a distinct canonical
    pair list); duplicates would otherwise double-count votes. Saves
    one full edge-sized shuffle.

    Returns (node, label).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    edges = edges.select("src", "dst")
    if not assume_distinct:
        edges = edges.distinct()
    # ROUND 1 collapses algebraically: with identity
    # initialization every neighbor contributes exactly ONE distinct
    # label (its own id) over the distinct edge list — all counts are
    # 1, so argmax-by-(count, label) is simply the LARGEST neighbor
    # id. One max aggregate replaces the join + double aggregation
    # (and the separate node-distinct label init), with bit-identical
    # results — the tie order (count, label) is the total order the
    # docstring pins, and at count==1 it degenerates to max(label).
    labels = edges.groupBy(F.col("dst").alias("node")).agg(
        F.max("src").alias("label")
    )
    for _ in range(rounds - 1):
        lab = labels.select(F.col("node").alias("__n"), F.col("label").alias("__l"))
        labels = (
            edges.join(lab, edges["src"] == lab["__n"])
            # ONE exchange of the raw votes on dst: HashPartitioning(dst)
            # satisfies both downstream groupings, so the (node, label)
            # count and the argmax run exchange-free on top of it
            # (measured faster than the partial-agg two-exchange chain at
            # sf0.1 AND ten times that; see the docstring's scale-shape note).
            .repartition(F.col("dst"))
            .groupBy(F.col("dst").alias("node"), F.col("__l").alias("lab"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), F.col("lab"))).alias("m"))
            .select("node", F.col("m.lab").alias("label"))
        )
    return labels


def canonical_edges(edges: DataFrame) -> DataFrame:
    """The distinct undirected edges ``(lo, hi)``, ``lo < hi``, of a
    ``(src, dst)`` pair list given in either direction; self-loops
    drop."""
    return (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )


def triangle_closure(cs: CacheScope, canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-oriented triangle closure (compact-forward) of the
    canonical edges ``canon`` (:func:`canonical_edges`), with its
    caches made in the caller's scope ``cs``.

    Every edge is oriented from its lower-(degree, id) endpoint ``u``
    to the higher one ``v``, and each oriented edge is paired with
    ``ws = N+(u) ∩ N+(v)``, the intersection of the two SORTED
    forward-adjacency arrays: each triangle closes exactly once, at
    its lowest-ordered vertex. Max forward degree in this orientation
    is O(sqrt(m)), so adjacency rows stay bounded under hubs, and the
    intersection never materialises the wedge set (the wedge-pair
    join it replaced shuffled ~m^1.5 rows, 41M at sf0.1, before the
    closing semi join; the intersection does the same work inside a
    map-side expression over the m oriented edges).

    Both adjacency joins are shuffle-hash, not sort-merge: the
    adjacency side is one bounded-width row per node (the build
    side), while sorting would buffer every edge row WITH its attached
    O(sqrt m) arrays, the sort buffer that blows small heaps. The hash
    build on the per-node side streams the edges untouched.

    Returns ``(deg, closed)``: ``(node, d)`` for every endpoint, and
    ``(u, v, ws)`` for every oriented edge whose head has forward
    neighbours (any other edge closes no triangle).
    """
    deg = cs.persist(
        # both endpoints in ONE pass over the canonical edges: the
        # union-of-two-selects form raced 2x tasks against the unbuilt
        # cache partitions — explode reads each partition once.
        canon.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("d").alias("dlo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("d").alias("dhi"))
    lo_first = (F.col("dlo") < F.col("dhi")) | (
        (F.col("dlo") == F.col("dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = cs.persist(
        canon.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        )
        # read three times (adjacency build + both join streams) and
        # adj itself feeds two differently-keyed exchanges — without
        # the persists each consumer re-ran the canon⋈deg⋈deg
        # orientation from scratch (measured ~25 task-s of duplicate
        # work at sf0.1).
    )
    adj = cs.persist(
        oriented.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("nb"))
    )
    a_u = adj.select(F.col("u").alias("__au"), F.col("nb").alias("__nbu"))
    a_v = adj.select(F.col("u").alias("__av"), F.col("nb").alias("__nbv"))
    closed = (
        oriented.join(a_u.hint("shuffle_hash"), oriented["u"] == a_u["__au"])
        .join(a_v.hint("shuffle_hash"), oriented["v"] == a_v["__av"])
        .select("u", "v", F.array_intersect("__nbu", "__nbv").alias("ws"))
    )
    return deg, closed


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph.

    ``edges`` is any (src, dst) pair list; it is canonicalised to
    distinct ``lo < hi`` pairs (self-loops dropped). Returns one row:
    ``n_nodes, n_edges, n_wedges, n_triangles`` — all BIGINT, so the
    global clustering coefficient ``3*tri / wedges`` can be formed
    downstream without baking a float division into the result.

    All of n_nodes / n_edges / n_wedges fall out of ONE aggregate over
    the degree table (sum(d) == 2·edges; wedges == sum d(d-1)/2), so
    the census costs a single groupBy + scalar agg beyond the triangle
    closure itself (:func:`triangle_closure`), whose intersections
    are summed.
    """
    with cache_scope() as cs:
        deg, closed = triangle_closure(cs, cs.persist(canonical_edges(edges)))
        census = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.expr("sum(d) div 2"), F.lit(0).cast("long")).alias("n_edges"),
            F.coalesce(
                F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0).cast("long")
            ).alias("n_wedges"),
        )
        n_tri = closed.agg(
            F.coalesce(F.sum(F.size("ws")), F.lit(0)).cast("long").alias("n_triangles")
        )
        return cs.result(cs.checkpoint(census.crossJoin(n_tri)))


def triangle_counts_per_node(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts of an undirected graph —
    the node-resolved sibling of :func:`triangle_stats`,
    feeding local-clustering-coefficient readouts.

    Over the closed edges of :func:`triangle_closure`, each oriented
    edge (u, v) credits u and v with ``|ws|`` and each common neighbor
    w in ``ws`` with 1 — total credit rows == 3·n_triangles, linear in
    the triangle count, never the wedge set.

    Returns ``(node, d, triangles)`` for EVERY node (distinct-neighbor
    degree; triangles 0 when none), eager-checkpointed with the
    canon/deg caches released.
    """
    with cache_scope() as cs:
        deg, closed = triangle_closure(cs, cs.persist(canonical_edges(edges)))
        # ONE pass over the closed-edge frame: a union of three selects
        # would recompute the adjacency joins + intersections per
        # branch; concat the u/v credits with the per-w credits into a
        # single exploded struct array instead — map-side, joins
        # evaluated once.
        credit = lambda node, c: F.struct(node.alias("node"), c.alias("c"))
        credits = closed.filter(F.size("ws") > 0).select(
            F.explode(
                F.concat(
                    F.array(
                        credit(F.col("u"), F.size("ws")), credit(F.col("v"), F.size("ws"))
                    ),
                    F.transform("ws", lambda w: credit(w, F.lit(1))),
                )
            ).alias("x")
        ).select(F.col("x.node").alias("node"), F.col("x.c").alias("c"))
        tri = credits.groupBy("node").agg(F.sum("c").cast("long").alias("triangles"))
        out = deg.join(tri, "node", "left").select(
            "node",
            F.col("d").cast("long").alias("d"),
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles"),
        )
        return cs.result(cs.checkpoint(out))


def ktruss_support(edges: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """k-truss of an undirected graph (Cohen 2008): the maximal
    subgraph where every edge participates in >= k-2 triangles, found
    by fixed-round support peeling — drop every edge whose current
    triangle support is below k-2, recompute, repeat. The cohesive-
    subgraph step past :func:`kcore_degrees` (every k-truss is inside
    the (k-1)-core but strictly tighter) and the standard community
    scaffold at billion-edge scale (Cohen's original motivation).

    ``edges`` is any (src, dst) pair list; canonicalised to distinct
    ``lo < hi`` pairs (self-loops dropped). Same convergence contract
    as ``kcore_degrees``: early exit the first round with no
    under-support edge; peeling is monotone (removing edges only
    lowers support), so a fixed ``rounds``-deep SQL unroll computes
    the SAME fixpoint whenever convergence happens within ``rounds``
    — which is what lets the oracle mirror the computation
    CTE-for-CTE. If the loop exhausts ``rounds`` unconverged, raise —
    a caller can never mistake a partial peel for the truss.

    Scale shape: per round, support comes from the surviving edges'
    :func:`triangle_closure`, each closed triangle exploding to its 3
    member edges and sum-reducing on the canonical edge key; the peel
    is one left join + filter. Survivors are checkpointed per round
    (the round reads its predecessor many times). Integer-only,
    bit-reproducible.

    Returns (lo, hi, sup): every truss edge with its within-truss
    support (BIGINT). Empty frame if the k-truss is empty.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    with cache_scope() as cs:
        cur = cs.checkpoint(canonical_edges(edges))
        prev: tuple[DataFrame, ...] = ()
        for _ in range(rounds):
            # the round's closure caches live in their own scope, which
            # releases them once the under-support probe has
            # materialised e
            with cache_scope() as rs:
                _, closed = triangle_closure(rs, cur)
                # every closed triangle (u, v, w ∈ ws) supports its 3
                # member edges in ONE explode over the closed-edge rows:
                # a tri-then-3-way-union would re-run the adjacency
                # joins + intersections once per branch.
                contrib = closed.select(
                    F.explode(
                        F.expr(
                            "flatten(transform(ws, w ->"
                            " array(struct(least(u, v) AS lo, greatest(u, v) AS hi),"
                            "       struct(least(u, w) AS lo, greatest(u, w) AS hi),"
                            "       struct(least(v, w) AS lo, greatest(v, w) AS hi))))"
                        )
                    ).alias("p")
                ).select("p.lo", "p.hi")
                s = contrib.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("sup"))
                # Persisted, not checkpointed: once the under-support
                # probe right below has materialised it (round and cache
                # in ONE job), its statistics are its real size, so the
                # survivors read from it start the next round's size
                # estimate afresh. A checkpoint keeps the closure's
                # estimate, the product of its cached join inputs, and
                # its digit count then multiplies every round until
                # planning alone stalls.
                e = cs.persist(
                    cur.join(s, ["lo", "hi"], "left").select(
                        "lo",
                        "hi",
                        F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("sup"),
                    )
                )
                n_under = e.filter(F.col("sup") < k - 2).count()
            # e is materialised: this round's input and the previous
            # round's support frame (read only by cur) are done
            cs.release(cur, *prev)
            if n_under == 0:
                return cs.result(cs.checkpoint(e))
            # survivors stay lazy too — next round's probe materializes
            # them off e's cached partitions
            cur = cs.checkpoint(
                e.filter(F.col("sup") >= k - 2).select("lo", "hi"), eager=False
            )
            prev = (e,)
        raise ValueError(
            f"k-truss peel did not converge in {rounds} rounds; increase rounds"
        )


def frontier_bfs(
    cs: CacheScope, edges: DataFrame, start: DataFrame, keys: list[str], max_hops: int
) -> DataFrame:
    """Bounded-depth BFS rounds over directed ``(src, dst)``, with its
    caches made in the caller's scope ``cs``.

    ``start`` holds the hop-0 rows ``keys + [dist]``; ``keys`` ends
    with ``node``, and the key columns before it (a BFS label such as
    the seed) ride along unchanged. Each round joins ONLY the new
    frontier against the edge list, dedups, then anti-joins the
    visited set on ``keys`` — work per round is proportional to the
    frontier, not the graph, and a key is labelled the first round it
    is reached, which IS its minimum distance (no re-visits, no min
    reduction needed).

    Returns the visited rows ``keys + [dist]`` within ``max_hops``.
    """
    # pre-hashed on src once: each round's frontier join reuses the
    # cache's HashPartitioning(src), so only the (small) frontier side
    # shuffles — the edge list never re-exchanges per round
    edges = cs.persist(edges.select("src", "dst").repartition(F.col("src")))
    label = keys[:-1]
    visited = start
    frontier = visited.select(*keys)
    for h in range(1, max_hops + 1):
        # each round's frontier is materialised once; without this the
        # visited lineage is re-evaluated 2^h times (it feeds both the
        # anti-join and the union)
        nxt = cs.persist(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(*label, F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .withColumn("dist", F.lit(h).cast("long"))
        )
        visited = visited.union(nxt)
        frontier = nxt.select(*keys)
    return visited


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Bounded-depth BFS over directed ``(src, dst)``: minimum hop
    distance (0..max_hops) from any node in ``sources`` (a one-column
    ``node`` frame), by the Pregel-shaped frontier rounds of
    :func:`frontier_bfs`. Integer hop counts, so exactly reproducible.

    Returns (node, dist) for every node within ``max_hops``.
    """
    with cache_scope() as cs:
        start = sources.select("node").distinct().withColumn(
            "dist", F.lit(0).cast("long")
        )
        return cs.result(cs.checkpoint(frontier_bfs(cs, edges, start, ["node"], max_hops)))


def kcore_degrees(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
) -> DataFrame:
    """k-core of an undirected graph by fixed-round peeling: repeatedly
    drop every node whose current degree is below ``k`` (with all its
    edges) until no such node remains. Classic corpus/graph quality
    filter — the k-core is the maximal subgraph of minimum degree k.

    ``edges`` is any (src, dst) pair list; it is canonicalised to
    distinct undirected edges (self-loops dropped). At most ``rounds``
    peel rounds run, with an early exit the first round that finds no
    under-degree node (one cheap count per round on the degree
    aggregate the peel needs anyway; without it the rounds past the
    fixpoint dominate the cost on larger inputs). Peeling is monotone, so a fixed
    ``rounds``-deep SQL unroll computes the SAME fixpoint the early
    exit does whenever convergence happens within ``rounds`` — which
    is what lets the oracle mirror the computation CTE-for-CTE (same
    shape as the unrolled PageRank oracles). If the loop exhausts
    ``rounds`` without converging, a final degree aggregate raises
    ``ValueError`` — a caller can never mistake a partial peel for
    the core.

    Scale shape: each round is one degree aggregation (shuffle on
    node) plus two anti joins removing edges incident to peeled nodes
    — work proportional to the surviving edge set, which shrinks
    monotonically. Each round's survivors are materialised eagerly
    (localCheckpoint): the round reads its predecessor three times
    (degree agg + both anti joins), so an un-truncated logical plan
    would grow 3^rounds — the checkpoint keeps both the plan tree and
    the execution linear in ``rounds``. Integer-only, so
    bit-reproducible.

    Returns (node, core_deg): every k-core node with its within-core
    degree (BIGINT). Empty frame if the k-core is empty.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    with cache_scope() as cs:
        # symmetric directed form: degree(v) == out-degree(v), and removing
        # a node means dropping rows where it appears on EITHER side. Both
        # directions of the canonical list, then pre-hashed on src ONCE:
        # every peel round's degree aggregate reuses the checkpoint's
        # HashPartitioning(src) exchange-free, and the (small) peel sets
        # anti-join as broadcasts that preserve it — so the per-round
        # exchange disappears entirely.
        cur = cs.checkpoint(
            sym_edges(canonical_edges(edges), "lo", "hi").repartition(F.col("src"))
        )
        converged = False
        # The survivor checkpoint is LAZY: the next round's bad.count()
        # — or the final degree aggregate — is the materializing action,
        # so peel + checkpoint run as ONE job per round instead of two.
        # The previous round (its survivors and its `bad` cache) must
        # outlive that materialization, so its release is deferred one
        # round.
        prev: tuple[DataFrame, ...] = ()
        for _ in range(rounds):
            deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            bad = cs.persist(
                deg.filter(F.col("d") < k).select(F.col("src").alias("__bad"))
            )
            n_bad = bad.count()  # materializes the pending lazy checkpoint
            cs.release(*prev)
            if n_bad == 0:
                converged = True
                break
            prev = (cur, bad)
            cur = cs.checkpoint(
                cur.join(bad, cur["src"] == bad["__bad"], "left_anti").join(
                    bad, cur["dst"] == bad["__bad"], "left_anti"
                ),
                eager=False,
            )
        out = cs.checkpoint(
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg"))
            .select(
                F.col("src").alias("node"),
                F.col("core_deg").cast("long").alias("core_deg"),
            )
        )
        if not converged:
            low = out.agg(F.min("core_deg").alias("m")).first()["m"]
            if low is not None and low < k:
                raise ValueError(
                    f"k-core peel did not converge in {rounds} rounds "
                    f"(minimum surviving degree {low} < k={k}); increase rounds"
                )
        return cs.result(out)


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
) -> DataFrame:
    """Distributed 2-D Pareto frontier: rows where no other row is
    <= on ``minimize_col`` AND >= on ``maximize_col`` with at least
    one strict inequality.

    Collapses to distinct (min_val -> max of max_val) first, then runs
    the classic sort + prefix-max sweep — but two-phase, so no single
    task sees the whole table: range-partition on the minimised
    column, per-partition prefix max within each range, plus a
    broadcast prefix max of earlier partitions' totals. Both passes
    read the same two columns of one range exchange, which Spark
    reuses, so they see the same partition ids. The kept set is
    invariant to the (sampled, nondeterministic) range boundaries
    because "earlier partition" == "strictly smaller minimise key"
    after the distinct-collapse.
    """
    best = df.groupBy(minimize_col).agg(F.max(maximize_col).alias(maximize_col))
    ranged = best.repartitionByRange(F.col(minimize_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(minimize_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmax = ranged.groupBy("__pid").agg(F.max(maximize_col).alias("__pm"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    # tiny frame: one row per shuffle partition
    prefix = pmax.withColumn("__prev", F.max("__pm").over(w_off)).select("__pid", "__prev")
    swept = (
        ranged.withColumn("__local", F.max(maximize_col).over(w_in))
        .join(F.broadcast(prefix), "__pid")
        .withColumn("__dom", F.greatest(F.col("__local"), F.col("__prev")))
    )
    return (
        swept.filter(F.col("__dom").isNull() | (F.col(maximize_col) > F.col("__dom")))
        .select(minimize_col, maximize_col)
    )


def hits_integer(edges: DataFrame, iters: int = 2) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration integer HITS (Kleinberg 1999) over directed
    ``(src, dst)``: hubs live on the src side, authorities on the dst
    side. Per iteration ``a_raw(v) = sum_{u->v} h(u)`` then
    ``h_raw(u) = sum_{u->v} a(v)``, each L1-renormalized to total mass
    ``RANK_SCALE`` in pure integer arithmetic —
    ``x' = (x_raw · RANK_SCALE) div sum(x_raw)`` computed over
    DECIMAL(38,0) so the product never wraps (x_raw <= deg·RANK_SCALE
    ~ 1e15; times RANK_SCALE ~ 1e24, far inside 38 digits; the BIGINT
    `div` result is <= RANK_SCALE). Floor division loses a little
    mass, the fixed-point trade :func:`pagerank_integer` also makes;
    everything is bit-reproducible, so an unrolled-CTE oracle using
    HUGEINT `//` matches exactly (both are floor-on-positive).

    Classic HITS normalizes by L2 — an inherently float operation; L1
    keeps the eigenvector direction under power iteration while
    staying integer-exact, which is what the hash-parity contract
    needs (any positive rescaling per step preserves the ordering and
    the limit direction).

    Scale shape: per iteration one join of the (node, score) frame
    against a pre-hashed persisted edge copy keyed on the join side
    (only the score side shuffles) + one keyed aggregation + one
    scalar total (tree-aggregated, broadcast back). Raw-score frames
    are eagerly checkpointed because two branches (the total and the
    normalize) read them — without the cut the logical plan doubles
    per iteration.

    Returns ``(authorities, hubs)``: (node, auth) over the dst set and
    (node, hub) over the src set, both BIGINT in ``RANK_SCALE`` units.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    with cache_scope() as cs:
        edges = cs.persist(edges.select("src", "dst").distinct())
        e_by_src = cs.persist(edges.repartition(F.col("src")))
        e_by_dst = cs.persist(edges.repartition(F.col("dst")))

        def _normalize(raw: DataFrame) -> DataFrame:
            # read by total AND join; lazy — the total's broadcast build
            # is the materializing action, one job instead of two
            raw = cs.checkpoint(raw, eager=False)
            tot = raw.agg(
                F.sum(F.col("raw").cast("decimal(38,0)")).alias("__tot")
            )
            return raw.crossJoin(F.broadcast(tot)).select(
                "node",
                F.expr(
                    f"CAST((CAST(raw AS DECIMAL(38,0)) * {RANK_SCALE}) div __tot "
                    "AS BIGINT)"
                ).alias("score"),
            )

        auth = hubs = None
        for it in range(iters):
            if it == 0:
                # ROUND 1 collapses: every hub score starts at
                # RANK_SCALE, so sum(__hs) per dst == in-count *
                # RANK_SCALE — no hub-init distinct and no join. Same
                # integer arithmetic, bit-identical.
                auth = _normalize(
                    e_by_src.groupBy(F.col("dst").alias("node")).agg(
                        (F.count(F.lit(1)) * F.lit(RANK_SCALE).cast("long")).alias(
                            "raw"
                        )
                    )
                )
            else:
                h = hubs.select(
                    F.col("node").alias("__hn"), F.col("score").alias("__hs")
                )
                auth = _normalize(
                    e_by_src.join(h, e_by_src["src"] == h["__hn"])
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum("__hs").alias("raw"))
                )
            a = auth.select(F.col("node").alias("__an"), F.col("score").alias("__as"))
            hubs = _normalize(
                e_by_dst.join(a, e_by_dst["dst"] == a["__an"])
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("__as").alias("raw"))
            )
        out_a = cs.checkpoint(auth.withColumnRenamed("score", "auth"))
        out_h = cs.checkpoint(hubs.withColumnRenamed("score", "hub"))
        return cs.result(out_a), cs.result(out_h)


def multi_source_ball_sizes(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Exact per-seed neighborhood function: for every seed and hop
    h = 0..max_hops, the number of nodes at distance exactly h — the
    exact small-cohort form of the neighborhood-function estimators
    (ANF/HyperBall) used to read graph reach and effective diameter;
    over a co-purchase graph it is the seed cohort's influence-growth
    curve. ``seeds`` is a one-column ``node`` frame (keep it BOUNDED —
    state is the labeled visited set, Σ_seeds |ball(seed, h)| rows,
    linear in seeds x reach by construction).

    The labeled BFS of :func:`frontier_bfs` on the composite (seed,
    node) key: a node is labeled per seed the first round it is
    reached, which IS its distance from that seed. Integer arithmetic
    only.

    Returns (seed, dist, n_nodes), zero rows for hops past exhaustion.
    """
    with cache_scope() as cs:
        start = (
            seeds.select("node")
            .distinct()
            .select(F.col("node").alias("seed"), F.col("node"), F.lit(0).cast("long").alias("dist"))
        )
        visited = frontier_bfs(cs, edges, start, ["seed", "node"], max_hops)
        return cs.result(
            cs.checkpoint(
                visited.groupBy("seed", "dist").agg(F.count(F.lit(1)).alias("n_nodes"))
            )
        )
