"""Deduplication operators for large-scale corpus curation.

Five strategies, each with a different cost/recall point — the
standard toolbox for training-data pipelines:

- exact: hash-groupBy on canonical text. One shuffle on the hash.
- MinHash + LSH: shingle → k salted min-hashes → band buckets →
  candidate pairs by bucket equi-join. Near-linear.
- n-gram Jaccard: inverted-index self-join with exact similarity —
  quadratic in documents sharing a token, used to verify/threshold
  candidates (cap document frequency to bound the blowup at scale).
- SimHash: per-token hash bit-vote → one 32-bit signature per doc;
  near-dups differ in few bits. Cheapest signature, hamming-style.
- embedding cosine: see operators/similarity.py (semantic near-dup).

All pure DataFrame ops — hashes are md5 (identical across engines,
so every strategy is oracle-checkable in DuckDB), arrays stay in
Catalyst, joins shuffle on hash/bucket keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fsc_etl_spark.functions.text import fingerprint_md5, shingles_from_tokens, tokens
from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.pairs import expand_pairs, shuffle_parallelism, sym_edges


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per content-fingerprint group: the survivor (min id) + group
    size. The keep-lowest-id rule makes survivorship deterministic."""
    return (
        docs.withColumn("fp", fingerprint_md5(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """The deduplicated corpus: one row (lowest id) per fingerprint."""
    fp = docs.withColumn("fp", fingerprint_md5(F.col("text")))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return fp.join(keep, ["fp", "doc_id"], "left_semi").drop("fp")


def _paired_min_exprs(k: int) -> list[Column]:
    """k min-hash aggregates from ceil(k/2) materialized md5 columns:
    one 128-bit md5 yields two independent 64-bit (16-hex) halves, so
    hash work per shingle halves versus one md5 per signature slot —
    statistically the same family as k salted md5s (Kirsch-Mitzenmacher
    style reuse), and the dominant per-row cost of the whole MinHash
    stage at corpus scale. Expects columns ``__h{j}`` bound upstream."""
    out = []
    for i in range(k):
        j, half = divmod(i, 2)
        out.append(
            F.min(F.substring(F.col(f"__h{j}"), 1 if half == 0 else 17, 16)).alias(
                f"mh{i}"
            )
        )
    return out


def minhash_signatures(
    docs: DataFrame,
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """k salted-md5 min-hashes over word n-gram shingles of ``text``,
    keyed by ``doc_id``.

    Text is lowercased before shingling so near-dup detection is
    case-insensitive (the same canonical form exact dedup uses).

    One explode + one groupBy(id): the shuffle carries (id, shingle)
    pairs; all k mins are computed in the same aggregate pass
    (map-side partial aggregation keeps the shuffle small). Documents
    too short to have a shingle drop out — callers who need them must
    union them back explicitly.
    """
    text = F.lower(F.col("text"))
    # Under-split scan guard: the gate fixtures are single-row-
    # group parquet, so the tokenize + shingle + salted-md5 work below
    # would otherwise run on ONE core (measured 1.94->0.64 s at
    # sf0.1); a no-op on properly split inputs.
    from fsc_etl_spark.sources.readers import parallel_scan

    base = parallel_scan(docs.select(F.col("doc_id"), text.alias("__txt")))
    # Materialize the token array BEFORE shingling: higher-order-
    # function bodies re-evaluate non-lambda subexpressions per
    # element, so shingling over split(text) inline is O(L²) per doc.
    toked = base.select(F.col("doc_id"), tokens(F.col("__txt")).alias("__tk"))
    # No per-doc shingle dedup: min() over duplicates equals min() over
    # the distinct set, so the dropDuplicates shuffle this used to pay
    # bought nothing.
    sh = toked.select(
        F.col("doc_id"), F.explode(shingles_from_tokens(F.col("__tk"), shingle_n)).alias("sh")
    )
    # ceil(k/2) md5s materialized once per shingle row; each yields two
    # 16-hex min slots (_paired_min_exprs) — half the hash work of one
    # salted md5 per slot, which dominates this stage's cost.
    n_md5 = (k + 1) // 2
    hashed = sh.select(
        F.col("doc_id"),
        *[
            F.md5(F.concat(F.lit(f"s{j}:"), F.col("sh"))).alias(f"__h{j}")
            for j in range(n_md5)
        ],
    )
    return hashed.groupBy("doc_id").agg(*_paired_min_exprs(k))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ALL min-hashes of at
    least one band. Band signature = md5(concat of the band's rows);
    pairs come from grouping ids per (band_idx, band_sig) bucket and
    expanding within-bucket pairs — ONE aggregation pass over the
    banded rows instead of a self-equi-join, which would compute the
    whole shingle+min-hash subplan twice (Catalyst does not reuse the
    exchange across the join's two sides).

    Scale: per-bucket pair expansion is quadratic in BUCKET size, which
    LSH keeps small by construction (a giant bucket means exact dups —
    run exact_dedup first). The collect_list bounds state to one
    bucket's ids; buckets hash-partition freely.
    """
    band_sigs = signatures.select(
        F.col("doc_id"),
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias(f"band{b}")
            for b in range(bands)
        ],
    )
    long = band_sigs.selectExpr(
        "doc_id",
        "stack({}, {}) as (band_idx, band_sig)".format(
            bands, ", ".join(f"{b}, band{b}" for b in range(bands))
        ),
    )
    buckets = (
        long.groupBy("band_idx", "band_sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .repartition(shuffle_parallelism(signatures))
    )
    return (
        buckets.select(expand_pairs("ids", "id_a", "id_b").alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


#: Past this many DISTINCT masks the bitmap path's m×m broadcast mask
#: pairing stops being the cheap plan (m² two-popcount evaluations plus
#: an m-row broadcast) and ``auto`` falls back to PPJoin prefix
#: filtering (m ≤ min(n, 2^|vocab|) is NOT small by construction — a
#: 62-token vocab over a huge corpus can reach millions of distinct
#: masks). 65_536² ≈ 4.3e9 codegen'd bit-ops is the measured
#: comfortable ceiling on a 32-thread executor profile.
BITMAP_MASK_LIMIT = 65_536


def jaccard_token_pairs(
    docs: DataFrame,
    threshold: float,
    max_df: int | None = None,
    strategy: str = "auto",
    mask_limit: int = BITMAP_MASK_LIMIT,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join, adaptive strategy.

    Two exact physical strategies behind one logical operator (the
    engine's own small-scale AQE: one cheap vocabulary probe picks the
    plan, the way Catalyst's AQE picks join strategies from runtime
    stats):

    - ``bitmap`` (vocabulary ≤ 62 tokens): each doc's token set packs
      into ONE bigint; Jaccard = popcount arithmetic on a size-filtered
      self-join. When the output is inherently dense (tiny vocabulary
      ⇒ Ω(n²) qualifying pairs), per-pair cost is a couple of codegen'd
      bit ops — orders of magnitude under a posting-list join.
    - ``prefix`` (general vocabulary): PPJoin-style prefix filtering
      (Xiao et al., WWW'08 — public algorithm). Tokens ordered by
      ascending document frequency; each doc indexes only its first
      ``|X| - ceil(t·|X|) + 1`` tokens (two docs with J ≥ t must share
      a prefix token); candidates pass the length filter
      ``t·|A| ≤ |B| ≤ |A|/t`` and are verified exactly against the
      full posting lists. Cost scales with near-dup density, not
      corpus² — this is the path for real text, where the
      frequency-sorted prefix is rare tokens with short posting lists.

    ``max_df`` remains an optional LOSSY accelerator (drops tokens
    above a df cap up front, changing the sets similarity is measured
    over).
    """
    toks = _jaccard_toks(docs, max_df)

    if strategy in ("auto", "bitmap"):
        # One tiny action picks the physical plan (runtime stats, à la
        # AQE): probe whether the vocabulary fits a signed bigint's 62
        # usable bits. The probe doubles as the bitmap's vocab list, so
        # the bitmap path pays no further vocabulary jobs.
        vocab = [r["tok"] for r in toks.select("tok").distinct().limit(63).collect()]
        if len(vocab) <= 62:
            # Second guard: the bitmap's pairing is m² on DISTINCT
            # masks — bounded by the vocab only as 2^62. Materialize
            # the mask frame once (eager localCheckpoint: the guard
            # count and the pairing reuse it) and fall back to the
            # prefix path when m² would dominate. An explicit
            # strategy="bitmap" is honored regardless (caller's call).
            with cache_scope() as cs:
                bm = cs.checkpoint(_doc_masks(toks, sorted(vocab)))
                if (
                    strategy == "bitmap"
                    or bm.select("mask").distinct().count() <= mask_limit
                ):
                    return cs.result(_jaccard_bitmap(bm, threshold))
        elif strategy == "bitmap":
            raise ValueError(f"bitmap strategy needs vocabulary <= 62 tokens, got more")
    return _jaccard_prefix(toks, threshold)


def _jaccard_toks(docs: DataFrame, max_df: int | None) -> DataFrame:
    """(id, tok) with per-doc token SETS via array_distinct BEFORE the
    explode — the dedup happens map-side inside codegen instead of a
    full (id, tok) distinct shuffle."""
    from fsc_etl_spark.sources.readers import parallel_scan

    # under-split scan guard (see minhash_signatures)
    docs = parallel_scan(docs.select(F.col("doc_id"), F.col("text")))
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    if max_df is not None:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= max_df).select("tok")
        toks = toks.join(rare, "tok", "left_semi")
    return toks


def _doc_masks(toks: DataFrame, vocab: list[str]) -> DataFrame:
    """(id, mask): token set → bigint bitmask via a literal token→bit
    map (no vocabulary shuffle)."""
    bit_of = F.create_map(
        *[x for tok, bit in ((t, i) for i, t in enumerate(vocab)) for x in (F.lit(tok), F.lit(bit))]
    )
    return (
        toks.withColumn("bit", bit_of[F.col("tok")])
        .groupBy("doc_id")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("mask"))
    )


def _jaccard_bitmap(bm: DataFrame, threshold: float) -> DataFrame:
    """Small-vocabulary fast path over a precomputed ``(id, mask)``
    frame (:func:`_doc_masks`): Jaccard via bit_count.

    The pairing works on DISTINCT masks, not documents: docs are
    grouped by identical mask first (m = distinct masks ≤ min(n,
    2^|vocab|)), the m×m mask pairs are evaluated with two popcounts
    each, and qualifying mask pairs expand back to doc pairs. The
    evaluation cost is m² + |output| instead of n² — for corpora where
    many documents share a token set (the regime this path exists for)
    m ≪ n, and the Ω(n²)-dense output only materializes rows that
    already passed the threshold; jaccard_token_pairs guards m against
    BITMAP_MASK_LIMIT before choosing this plan. Same-mask groups
    short-circuit to jaccard = 1.0 without any join."""
    # One row per distinct mask; |set bits| == token-set size because
    # distinct tokens map to distinct bits.
    grp = bm.groupBy("mask").agg(
        F.collect_list("doc_id").alias("ids"), F.count(F.lit(1)).alias("n_docs")
    )

    a = grp.select(F.col("mask").alias("mask_a"), F.col("ids").alias("ids_a"))
    b = grp.select(F.col("mask").alias("mask_b"), F.col("ids").alias("ids_b"))
    sz_a = F.bit_count(F.col("mask_a")).cast("bigint")
    sz_b = F.bit_count(F.col("mask_b")).cast("bigint")
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b"))).cast("bigint")
    # crossJoin + filters (not a conditioned join): Catalyst folds the
    # predicates — including the jaccard threshold itself — into the
    # broadcast loop's condition, so non-qualifying MASK pairs die
    # inside the join before any doc-pair expansion.
    cross_mask = (
        a.crossJoin(F.broadcast(b))
        .filter((F.col("mask_a") < F.col("mask_b")) & (F.lit(threshold) * sz_a <= sz_b) & (F.lit(threshold) * sz_b <= sz_a))
        .withColumn("jaccard", F.round(inter / (sz_a + sz_b - inter), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(F.explode("ids_a").alias("id_x"), "ids_b", "jaccard")
        .select("id_x", F.explode("ids_b").alias("id_y"), "jaccard")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "jaccard",
        )
    )
    same_mask = (
        grp.filter(F.col("n_docs") >= 2)
        .select(F.explode("ids").alias("id_x"), "ids")
        .select("id_x", F.explode("ids").alias("id_y"))
        .filter(F.col("id_x") < F.col("id_y"))
        .select(
            F.col("id_x").alias("id_a"),
            F.col("id_y").alias("id_b"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    out = cross_mask
    if threshold <= 1.0:
        out = out.unionByName(same_mask)
    return out


def _jaccard_prefix(toks: DataFrame, threshold: float) -> DataFrame:
    """General-vocabulary exact path: PPJoin prefix filtering (see
    jaccard_token_pairs docstring)."""
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok").asc())
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("rnk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc_id", "tok", "sz")

    pa = prefix.select(F.col("doc_id").alias("id_a"), "tok", F.col("sz").alias("sz_a"))
    pb = prefix.select(F.col("doc_id").alias("id_b"), "tok", F.col("sz").alias("sz_b"))
    cands = (
        pa.join(pb, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.lit(threshold) * F.col("sz_a") <= F.col("sz_b"))
        .filter(F.lit(threshold) * F.col("sz_b") <= F.col("sz_a"))
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )

    ta = toks.select(F.col("doc_id").alias("id_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("id_b"), "tok")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_sig(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """SimHash signature: per distinct token, a 60-bit md5-derived hash
    votes ±1 on each of ``n_bits`` bit positions; the signature sets
    bit i where the vote sum is positive. Default 60 bits — the full
    usable width of conv(substring(md5, 1, 15)) — because collision
    math at corpus scale needs wide bands: with b-bit bands a band
    bucket collides ~n²/2^b times, so 15-bit bands (60/4) give 2^7×
    fewer spurious candidates than the 8-bit bands a 32-bit signature
    allows.

    Static per-bit expressions (no explode of bit positions) keep the
    whole thing in two aggregate passes with literal-only bit math —
    portable to the SQL oracle (hex-cast + shifts exist in both).
    """
    assert 1 <= n_bits <= 60, "md5-derived hash provides 60 usable bits"
    # Under-split scan guard (see minhash_signatures) — the
    # tokenize + md5 vote work below otherwise runs on one core over
    # the single-row-group gate fixtures.
    from fsc_etl_spark.sources.readers import parallel_scan

    docs = parallel_scan(docs.select(F.col("doc_id"), F.col("text")))
    # array_distinct before the explode: per-doc token-set dedup runs
    # map-side in codegen, deleting the (id, tok) distinct shuffle that
    # used to precede the vote aggregation.
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    # Materialize the 60-bit hash once per token: the bit extracts run
    # over a bound attribute instead of re-evaluating md5+conv per bit
    # (CollapseProject keeps multi-referenced non-cheap aliases in
    # their own projection).
    hashed = toks.select(
        F.col("doc_id"),
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint").alias("__h"),
    )

    # SIMD-in-a-register vote packing: three 20-bit lanes per bigint,
    # so the per-(doc,token) projection and the aggregate carry
    # ceil(n_bits/3) longs instead of n_bits — 3x fewer expressions
    # and 3x narrower shuffle rows. Lane k of pack j accumulates the
    # set-bit COUNT of signature bit 3j+k; lanes can't carry into each
    # other while a doc has < 2^20 distinct tokens (the sign bit stays
    # clear: 40 + 20 = 60 < 63). Vote sum = 2*count - n, so bit i is
    # set iff 2*count_i > n.
    def bit(i: int) -> Column:
        return F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))

    n_packs = (n_bits + 2) // 3
    packs = hashed.select(
        F.col("doc_id"),
        *[
            sum(
                F.shiftleft(bit(3 * j + k), 20 * k)
                for k in range(min(3, n_bits - 3 * j))
            ).alias(f"p{j}")
            for j in range(n_packs)
        ],
    )
    sums = packs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(f"p{j}").alias(f"p{j}") for j in range(n_packs)],
    )
    lane_mask = F.lit((1 << 20) - 1)
    sig = None
    for i in range(n_bits):
        count_i = F.shiftright(F.col(f"p{i // 3}"), 20 * (i % 3)).bitwiseAND(lane_mask)
        bit_i = F.when(count_i * 2 > F.col("__n"), F.lit(2**i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = bit_i if sig is None else sig + bit_i
    return sums.select(F.col("doc_id"), sig.alias("simhash"))


# Backwards-compatible 32-bit variant (kept for callers that want the
# cheaper signature; near-dup blocking should use the 60-bit default).
def simhash32(docs: DataFrame) -> DataFrame:
    return simhash_sig(docs, n_bits=32)


def connected_components_min_label(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph by
    min-label propagation: every node starts as its own root, and each
    round lowers a node's root to the minimum root among its neighbors
    until a fixpoint. The result (doc_id, cluster_root) is the dedup
    cluster assignment — one canonical root (min doc_id) per group of
    transitively-linked near-duplicates.

    This is the iterative-algorithm pattern Catalyst cannot express in
    one plan: a driver loop of join+groupBy rounds, localCheckpoint()
    per round to truncate lineage, terminating on a converged round
    (fixpoint is unique, so the output is deterministic regardless of
    execution order). Rounds needed = graph diameter; near-dup graphs
    are star/clique-like (diameter ~2-3). For adversarially long chains,
    swap in :func:`connected_components_star` (O(log n)
    rounds) — same join/groupBy primitives, identical output.
    """
    with cache_scope() as cs:
        # both directions in ONE pass over the pair subtree: the
        # union-of-two-selects form re-ran the whole LSH candidate build
        # once per branch (Catalyst does not reuse it across branches)
        edges = cs.checkpoint(sym_edges(pairs, "id_a", "id_b").distinct(), eager=False)
        converged = False
        # Propagate only over nodes that touch an edge: near-dup graphs
        # are a sliver of the corpus, so the per-round label table (and
        # its checkpoint) is edge-subgraph-sized, not corpus-sized.
        # Singletons re-enter as their own root in the final left join.
        labels = prev = cs.checkpoint(
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .select(F.col("doc_id"), F.col("doc_id").alias("root")),
            eager=False,
        )
        for _ in range(max_iters):
            lbl_src = labels.select(F.col("doc_id").alias("src"), F.col("root").alias("src_root"))
            nbr = edges.join(lbl_src, "src").groupBy("dst").agg(F.min("src_root").alias("nbr_root"))
            # The changed flag rides along in the propagation select, so
            # the convergence probe is a limit(1) scan of the round's
            # already-checkpointed output — not a second labels join.
            # Lazy checkpoint: the probe right below is the
            # materializing action, so round + checkpoint run as ONE job
            # instead of two (per-round driver latency was the measured
            # cost of the CC loops, not task work).
            nxt = cs.checkpoint(
                labels.join(nbr, F.col("doc_id") == F.col("dst"), "left").select(
                    F.col("doc_id"),
                    F.least(F.col("root"), F.coalesce(F.col("nbr_root"), F.col("root"))).alias(
                        "root"
                    ),
                    (F.coalesce(F.col("nbr_root"), F.col("root")) < F.col("root")).alias(
                        "__changed"
                    ),
                ),
                eager=False,
            )
            converged = nxt.filter(F.col("__changed")).limit(1).count() == 0
            cs.release(prev)  # nxt is materialised; the last round is done
            prev = nxt
            labels = nxt.drop("__changed")
            if converged:
                break
        if not converged:
            # Same contract as connected_components_star: an intermediate
            # label table is WRONG cluster roots, not approximate ones —
            # a component whose diameter exceeds max_iters would be split.
            # Fail loudly instead of silently returning partial labels.
            raise RuntimeError(
                f"connected_components_min_label did not converge within "
                f"max_iters={max_iters} rounds (graph diameter too large); "
                f"labels would be incorrect — raise max_iters or use "
                f"connected_components_star (O(log n) rounds)"
            )
        labels = cs.result(nxt).drop("__changed")
    return (
        nodes.select(F.col("doc_id"))
        .join(labels.withColumnRenamed("root", "__root"), "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("__root"), F.col("doc_id")).alias("cluster_root"),
        )
    )


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round twin of :func:`connected_components_min_label`
    for graphs with long chains, where min-label propagation needs
    diameter rounds.

    Each round rewrites the edge set toward a forest of depth-1 stars
    rooted at component minima:

    - large-star: every node u links its LARGER neighbors to
      m(u) = min(Γ(u) ∪ {u}) — halves the height of tall subtrees;
    - small-star: every node u links its smaller-or-equal neighbors
      (and itself) to m(u) — flattens the remaining short hops.

    Both emit only (child, parent) edges with parent < child, so the
    edge count never grows beyond the symmetrized input and every
    round is one groupBy (per-node min) + one join — the same
    shuffle-on-node-id primitives as min-label, just with a rewriting
    edge set instead of a label table. Fixpoint = every node linked
    directly to its component min; the exact set-equality probe per
    round costs one anti-join of edge-set size, same order as the
    round itself. Output equals min-label's (unique fixpoint):
    (doc_id, cluster_root) with root = component min.
    """
    # Canonical directed form: (child src, parent dst), parent < child.
    # greatest/least computes the kept orientation directly in ONE pass
    # — the former symmetrize-union + filter re-ran the whole LSH pair
    # subtree once per branch just to throw half away.
    canon = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("src"),
            F.least("id_a", "id_b").alias("dst"),
        )
        .filter(F.col("dst") < F.col("src"))
        .distinct()
    )

    def star_round(e: DataFrame, large: bool) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}) as a WINDOW over the symmetrized
        # adjacency, partitioned by u — one shuffle, computed in place
        # on every adjacency row. The groupBy-then-join alternative
        # costs two extra shuffles plus a self-join per round; at toy
        # edge counts those fixed stage launches dominate the whole CC.
        # Only the small-star (iteration-final) output is dedup'd:
        # duplicate edges between the sub-rounds cannot change a window
        # MIN, so the large-star distinct would be a wasted shuffle.
        # Both adjacency directions via ONE explode: the union
        # form re-ran this sub-round's INPUT subtree per branch — for
        # the small-star that input is the whole un-checkpointed
        # large-star (window included), i.e. the round cost doubled.
        sym = sym_edges(e, "src", "dst")
        m = F.least(F.col("src"), F.min("dst").over(Window.partitionBy("src")))
        sm = sym.withColumn("m", m)
        if large:
            emitted = sm.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
            return emitted.filter(F.col("src") != F.col("dst"))
        # smaller-link (dst, m) when dst < src, PLUS the self-link
        # (src, m) on every adjacency row — one conditional-array
        # explode instead of a two-branch union that re-ran the window
        # per branch; the trailing distinct collapses duplicates.
        emitted = sm.select(
            F.explode(
                F.when(
                    F.col("dst") < F.col("src"),
                    F.array(
                        F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
                        F.struct(F.col("src"), F.col("m").alias("dst")),
                    ),
                ).otherwise(
                    F.array(F.struct(F.col("src"), F.col("m").alias("dst")))
                )
            ).alias("e")
        ).select("e.src", "e.dst")
        return emitted.filter(F.col("src") != F.col("dst")).distinct()

    # Convergence protocol (exact, but cheap in the common case): per
    # iteration compute one (count, hash-sum) aggregate over the fresh
    # edge set. Differing aggregates PROVE the set changed — continue
    # with no join at all. Equal aggregates are only a hint (sums can
    # collide), so the claim "fixpoint reached" is then verified
    # exactly: with equal counts over distinct sets, one empty
    # exceptAll direction implies set equality. Versus the naive
    # two-exceptAll-per-round check this removes ~2 joins and 1
    # checkpoint per non-final round; only one checkpoint per
    # iteration keeps lineage bounded.
    def stats_of(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("hs"),
        ).first()
        return row["n"], row["hs"]

    with cache_scope() as cs:
        # lazy: the first stats_of() probe materializes it
        edges = cs.checkpoint(canon, eager=False)
        prev_stats = stats_of(edges)
        converged = False
        for _ in range(max_iters):
            # lazy checkpoint: stats_of() below is the materializing
            # action — round + checkpoint run as ONE job instead of two
            after = cs.checkpoint(
                star_round(star_round(edges, large=True), large=False), eager=False
            )
            cur_stats = stats_of(after)
            converged = (
                cur_stats == prev_stats
                and after.exceptAll(edges).limit(1).count() == 0
            )
            cs.release(edges)  # after is materialised; the last round is done
            edges, prev_stats = after, cur_stats
            if converged:
                break
        if not converged:
            # The docstring promises output identical to min-label; an
            # intermediate edge set silently returned here would be WRONG
            # labels, not approximate ones. O(log n) rounds means 25 covers
            # graphs far beyond 2^25 nodes — hitting this is a bug or a
            # pathological input, so fail loudly.
            raise RuntimeError(
                f"connected_components_star did not reach the star fixpoint "
                f"within max_iters={max_iters}; labels would be incorrect"
            )
        edges = cs.result(edges)

    roots = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__root"))
        .withColumnRenamed("src", "doc_id")
    )
    return (
        nodes.select(F.col("doc_id"))
        .join(roots, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("__root"), F.col("doc_id")).alias("cluster_root"),
        )
    )


def simhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-duplicate pairs via banded blocking.

    The 60-bit signature splits into 4 contiguous 15-bit chunks; any
    pair within Hamming distance < 4 shares at least one identical
    chunk (pigeonhole), so an equi-join on (band_idx, band_val) finds
    every candidate without an O(n^2) cross join. Survivors are
    verified exactly with ``bit_count(sig_a XOR sig_b) <= 3``.

    Scale: the join key is (band_idx, band_val) — 4× data expansion
    but hash-partitionable. Expected spurious collisions per band ≈
    n²/2^15, so 60-bit/15-bit bands keep the verify stage ~2^7×
    cheaper than the 32-bit/8-bit configuration at the same corpus
    size. This is the scalable shape (blocking + verify), same as the
    MinHash-LSH path in lsh_candidate_pairs.
    """
    n_bands, band_bits = 4, 15
    mask = (1 << band_bits) - 1
    sigs = simhash_sig(docs)
    bands = sigs.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    # Group (id, sig) per band bucket and expand within-bucket pairs —
    # one aggregation pass; a banded self-join would run the whole
    # token+SimHash subplan twice (no cross-side exchange reuse).
    # Bucket-size quadratics are bounded by 15-bit band entropy; the
    # Hamming verify runs BEFORE the pair-distinct so its shuffle
    # carries only true near-dups, not every band collision.
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_id").alias("id"), F.col("simhash").alias("sig"))
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2)
    )
    return (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
