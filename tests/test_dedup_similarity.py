"""Behavioral tests for dedup/similarity operators — planted
duplicates and known geometry, beyond the oracle equivalence the
contract test already covers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fsc_etl_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_stats,
    jaccard_token_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash32,
)
from fsc_etl_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
    lsh_multitable_topk,
    nearest_neighbor_within_group,
)
from fsc_etl_spark.plans.training_data import LSH_TABLES


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),      # exact dup of 1
        (3, "The Quick Brown Fox jumps over the lazy dog  "),    # case/space dup of 1
        (4, "the quick brown fox jumps over the sleepy dog"),    # near-dup (1 token)
        (5, "completely different content about spark engines"),
        (6, "tiny"),                                             # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(docs):
    stats = {r["keep_id"]: r["dup_count"] for r in exact_dedup_stats(docs).collect()}
    assert stats[1] == 3  # docs 1,2,3 share a canonical fingerprint
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert kept == {1, 4, 5, 6}


def test_minhash_lsh_finds_near_dup_pair(docs):
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    # doc 6 has no 3-gram shingle and drops out
    assert {r["doc_id"] for r in sigs.collect()} == {1, 2, 3, 4, 5}
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, 4, 2).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs  # identical shingle sets always collide
    assert (1, 4) in pairs  # 1-token edit shares most shingles -> some band agrees
    assert (1, 5) not in pairs


def test_jaccard_exact_similarity(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_token_pairs(docs, 0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_jaccard_bitmap_mask_guard_falls_back(spark, docs):
    """VERDICT r9 #3: past ``mask_limit`` distinct masks the auto
    strategy must abandon the m² bitmap pairing for the prefix path —
    same exact pairs either way — while an explicit strategy="bitmap"
    is still honored."""

    def plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    def pairs(df):
        return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect())

    auto = jaccard_token_pairs(docs, 0.5)  # tiny vocab, few masks: bitmap
    assert "bit_count" in plan(auto)
    fallback = jaccard_token_pairs(docs, 0.5, mask_limit=1)
    assert "bit_count" not in plan(fallback)  # prefix path chosen
    assert pairs(fallback) == pairs(auto)
    forced = jaccard_token_pairs(docs, 0.5, strategy="bitmap", mask_limit=1)
    assert "bit_count" in plan(forced)  # explicit choice wins
    assert pairs(forced) == pairs(auto)


def test_jaccard_max_df_drops_common_tokens(docs):
    # 'the' appears in docs 1-4; max_df=3 removes it from the index.
    unfiltered = jaccard_token_pairs(docs, 0.1).count()
    filtered = jaccard_token_pairs(docs, 0.1, max_df=3).count()
    assert filtered <= unfiltered


def test_simhash_near_dups_have_close_hashes(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert sh[1] == sh[2]                       # same token set
    assert hamming(sh[1], sh[4]) < hamming(sh[1], sh[5])


@pytest.fixture(scope="module")
def emb(spark):
    # 3 tight clusters + normalization; nearest neighbors are known.
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for label, center in enumerate(rng.standard_normal((3, 16))):
        for i in range(6):
            v = center + 0.01 * rng.standard_normal(16)
            v = v / np.linalg.norm(v)
            rows.append((label * 10 + i, [float(x) for x in v], label))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_prefers_same_cluster(emb):
    queries = emb.filter(F.col("vec_id") == 0)
    top = cosine_topk(emb, queries, k=3).collect()
    assert [r["query_id"] for r in top] == [0, 0, 0]
    assert all(r["vec_id"] < 10 for r in top)  # same cluster (label 0 → ids 0-5)
    assert all(r["cos"] > 0.99 for r in top)


def test_lsh_topk_recall_against_exact(emb):
    import numpy as np

    rng = np.random.default_rng(1)
    planes = rng.standard_normal((4, 16)).tolist()
    queries = emb.filter(F.col("vec_id").isin(0, 10, 20))
    exact = cosine_topk(emb, queries, k=3)
    approx = lsh_bucketed_topk(emb, queries, k=3, hyperplanes=planes)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    #

    # Tight clusters land in the same bucket: recall should be perfect
    # here; >= 2/3 guards against an unlucky plane through a cluster.
    assert len(a & e) / len(e) >= 2 / 3


@pytest.mark.parametrize(
    "name,floor",
    [
        ("embed_lsh_topk", 0.7),  # measured 0.84 sf0.001 / 0.92 / 0.96
        ("embed_ivf_topk", 0.5),  # measured 0.76 sf0.01 / 0.80 sf0.1
        ("embed_pq_topk", 0.6),  # measured 1.00 sf0.01 / 0.80 sf0.1
        # audited pinned-codebook tiers (full hash oracles; recall is
        # the other half of their contract)
        ("embed_ivf_pinned_topk", 0.5),  # measured 0.72 / 0.80 / 0.68
        ("embed_pq_pinned_topk", 0.6),  # measured 0.88 / 0.92 / 0.72
    ],
)
def test_ann_query_recall_floor_on_real_fixtures(spark, sf_smoke, name, floor):
    """Recall floors for the PRODUCTION ANN query entries on the real
    (near-orthogonal, worst-case) fixture embeddings — the measured
    values above minus headroom, so a plane-set, probe-ranking, or
    refine-pool regression fails loudly even when the queries' oracles,
    which replay the same approximation, still match."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    exact = {
        (r["query_id"], r["vec_id"])
        for r in qs["embed_cosine_topk"](spark, sf_smoke).collect()
    }
    a = {(r["query_id"], r["vec_id"]) for r in qs[name](spark, sf_smoke).collect()}
    assert len(a & exact) / len(exact) >= floor, name


def test_multitable_lsh_sig_strategy_identity(spark, sf_smoke):
    """The Arrow-matmul signature path (production) and the
    literal-expression fold twin must produce BIT-IDENTICAL results on
    the real fixtures — the sign margin (min |dot| 1.2e-5, ulp noise
    ~1e-14) guarantees accumulation order cannot flip a bucket."""
    from fsc_etl_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    a = rows(lsh_multitable_topk(emb, queries, k=5, tables=LSH_TABLES, sig_strategy="pandas"))
    b = rows(lsh_multitable_topk(emb, queries, k=5, tables=LSH_TABLES, sig_strategy="expr"))
    assert a == b


def test_pq_pinned_encode_strategy_identity(spark, sf_smoke):
    """The Arrow-matmul encode (production) and the literal-expression
    encode twin must produce BIT-IDENTICAL pinned-PQ results on the
    real fixtures: the measured encode-argmin margin (1.3e-7) and ADC
    cutoff margin (2.3e-5) dwarf the last-ulp reassociation between
    (v/|v|)@C^T and dot(v,c)/|v|, so candidate sets cannot diverge and
    the exact 6dp re-rank is shared arithmetic."""
    from fsc_etl_spark.operators.similarity import pq_topk
    from fsc_etl_spark.plans.training_data import PQ_PINNED_CODEBOOKS
    from fsc_etl_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    kw = dict(k=5, refine=40, codebooks=PQ_PINNED_CODEBOOKS)
    a = rows(pq_topk(emb, queries, encode_strategy="pandas", **kw))
    b = rows(pq_topk(emb, queries, encode_strategy="expr", **kw))
    assert a == b


def test_multitable_lsh_recall_on_real_fixtures(spark, sf_smoke):
    """Recall-floor regression for the PRODUCTION plane set on the
    real (near-orthogonal, worst-case) fixture embeddings: 12 OR-ed
    4-bit tables measured 0.84 at sf0.001 (0.92 / 0.96 at sf0.01 /
    sf0.1) vs ~0.0-0.04 for the old single 6-bit table. Floor at 0.7
    so a plane-set or candidate-union regression fails loudly."""
    from fsc_etl_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=5)
    approx = lsh_multitable_topk(emb, queries, k=5, tables=LSH_TABLES)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.7


def test_multitable_lsh_perfect_on_clustered(emb):
    """On clustered geometry every true neighbor shares a bucket in
    at least one table — recall must be perfect, like the single-table
    path on the same data (16-dim fixture, so 16-dim test planes)."""
    import numpy as np

    tables = np.random.default_rng(3).standard_normal((4, 4, 16)).tolist()
    queries = emb.filter(F.col("vec_id").isin(0, 10, 20))
    exact = cosine_topk(emb, queries, k=3)
    approx = lsh_multitable_topk(emb, queries, k=3, tables=tables)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert a == e


def test_ivf_topk_recall_against_exact(emb):
    """With centroids ≈ clusters and nprobe=1, the probed cell IS the
    query's cluster — recall vs exact should be perfect on this
    geometry."""
    queries = emb.filter(F.col("vec_id").isin(0, 10, 20))
    exact = cosine_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, k=3, n_centroids=3, nprobe=1)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert a == e


def test_ivf_full_probe_equals_exact_ids(emb):
    """nprobe = n_centroids degenerates to exact search (every cell
    probed) — the ranked id lists must match the brute-force path."""
    queries = emb.filter(F.col("vec_id") == 0)
    exact = [(r["query_id"], r["vec_id"], r["rank"]) for r in cosine_topk(emb, queries, k=5).collect()]
    approx = [(r["query_id"], r["vec_id"], r["rank"]) for r in ivf_topk(emb, queries, k=5, n_centroids=4, nprobe=4).collect()]
    assert approx == exact


def test_cosine_near_dup_pairs_finds_cluster_pairs(emb):
    pairs = cosine_near_dup_pairs(emb, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every within-cluster pair qualifies (15 per cluster of 6), none across
    assert len(got) == 45
    for a, b in got:
        assert a // 10 == b // 10 and a < b


def test_nn_within_label_symmetric_clusters(emb):
    nn = {r["id_a"]: r["nn_id"] for r in nearest_neighbor_within_group(emb).collect()}
    assert len(nn) == 18
    for vid, nnid in nn.items():
        assert vid // 10 == nnid // 10  # neighbor stays in the cluster


def test_ivf_sampled_training_deterministic(emb):
    """The quantizer trains on a deterministic sample (the first
    vectors by id): two runs give identical results (no RNG state),
    and the full-probe configuration still returns exact top-k ids
    because every vector is assigned to some cell regardless of
    training."""
    queries = emb.filter(F.col("vec_id") < 3)
    kw = dict(k=3, n_centroids=3, nprobe=3)
    a = sorted(tuple(r) for r in ivf_topk(emb, queries, **kw).collect())
    b = sorted(tuple(r) for r in ivf_topk(emb, queries, **kw).collect())
    assert a == b
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in ivf_topk(emb, queries, **kw).collect()}
    assert got == exact


def test_star_cc_equals_min_label_on_fixture(spark, sf_smoke):
    """large-star/small-star and min-label propagation must agree on
    the real near-dup candidate graph."""
    from fsc_etl_spark.operators.dedup import (
        connected_components_min_label,
        connected_components_star,
    )
    from fsc_etl_spark.sources.readers import read_parquet_table as t

    docs = t(spark, sf_smoke, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    nodes = docs.select("doc_id")
    a = {tuple(r) for r in connected_components_min_label(nodes, pairs).collect()}
    b = {tuple(r) for r in connected_components_star(nodes, pairs).collect()}
    assert a == b


def test_star_cc_logarithmic_on_chain(spark):
    """A 256-node path graph: min-label needs ~255 rounds (diameter);
    the star variant must finish inside max_iters=12 (~2·log2 n) and
    still label every node with the chain minimum."""
    from fsc_etl_spark.operators.dedup import connected_components_star

    n = 256
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    out = connected_components_star(nodes, pairs, max_iters=12).collect()
    assert len(out) == n
    assert all(r["cluster_root"] == 0 for r in out)


def test_min_label_cc_raises_on_iteration_exhaustion(spark):
    """A 16-node path graph with max_iters=3: the diameter (15) exceeds
    the round budget, so min-label must raise rather than silently
    return a split component (ADVICE r2 precedent for the star twin)."""
    import pytest as _pytest

    from fsc_etl_spark.operators.dedup import connected_components_min_label

    n = 16
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_min_label(nodes, pairs, max_iters=3)
    # And with enough rounds the same input labels the whole chain 0.
    ok = connected_components_min_label(nodes, pairs, max_iters=20).collect()
    assert len(ok) == n and all(r["cluster_root"] == 0 for r in ok)


def test_star_cc_singletons_and_two_components(spark):
    from fsc_etl_spark.operators.dedup import connected_components_star

    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 4), (4, 2), (7, 9), (9, 8)], ["id_a", "id_b"]
    )
    got = {(r["doc_id"], r["cluster_root"]) for r in connected_components_star(nodes, pairs).collect()}
    want = {(0, 0), (1, 1), (4, 1), (2, 1), (7, 7), (9, 7), (8, 7), (3, 3), (5, 5), (6, 6)}
    assert got == want


def test_pq_topk_recall_against_exact(emb):
    """Tight clusters quantize cleanly: with 4 subspaces over the
    16-dim fixture and plenty of codes, the ADC ranking's refined
    top-3 should recover the exact neighbors (>= 2/3 guards against a
    codebook split through a cluster)."""
    from fsc_etl_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id").isin(0, 10, 20))
    exact = cosine_topk(emb, queries, k=3)
    approx = pq_topk(emb, queries, k=3, n_subspaces=4, n_codes=8, refine=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(a & e) / len(e) >= 2 / 3


def test_pq_topk_output_contract(emb):
    """Schema/rank discipline matches the other ANN tiers: k rows per
    query, ranks 1..k, self excluded, cos rounded to 6 decimals."""
    from fsc_etl_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") == 0)
    rows = pq_topk(emb, queries, k=3, n_subspaces=4, n_codes=8).collect()
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
    assert all(r["query_id"] == 0 and r["vec_id"] != 0 for r in rows)
    assert all(abs(r["cos"]) <= 1.0 + 1e-9 for r in rows)


def test_pq_topk_rejects_indivisible_dims(emb):
    from fsc_etl_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id") == 0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        pq_topk(emb, queries, k=3, n_subspaces=5)


def test_pq_encode_strategies_identical(emb):
    """The vectorized Arrow encode and the pure-expression encode are
    the same math (argmax of dot - |c|^2/2, first-index tie-break) —
    the physical strategy must not change a single output row."""
    from fsc_etl_spark.operators.similarity import pq_topk

    queries = emb.filter(F.col("vec_id").isin(0, 10, 20))
    a = sorted(
        map(
            tuple,
            pq_topk(
                emb, queries, k=3, n_subspaces=4, n_codes=8, encode_strategy="pandas"
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            pq_topk(
                emb, queries, k=3, n_subspaces=4, n_codes=8, encode_strategy="expr"
            ).collect(),
        )
    )
    assert a == b


def _py_mmr(rows, qv, k, lam=0.7, one_minus=0.3):
    """Greedy MMR reference with 6dp-rounded cosines, ties by id.
    Rounds HALF_UP on the shortest decimal repr — Python's built-in
    round() is half-EVEN and diverges from Spark/DuckDB in the last
    digit."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return r6(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))))

    allv = dict(rows)
    rel = {i: cos(qv, v) for i, v in rows}
    remaining = sorted(allv)
    picked = []
    for _ in range(k):
        best = None
        for i in remaining:
            ms = max((cos(allv[i], allv[p]) for p, _ in picked), default=0.0)
            # one_minus is the independent 3/10 double, NOT 1.0 - lam
            # (0.30000000000000004) — mirroring the operator's exact
            # rational lam_den-lam_num over lam_den
            score = r6(lam * rel[i] - one_minus * ms)
            if best is None or score > best[1]:
                best = (i, score)
        picked.append(best)
        remaining.remove(best[0])
    return picked


def test_mmr_select_matches_greedy_reference(emb):
    from fsc_etl_spark.operators.similarity import mmr_select

    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()]
    qv = dict(rows)[0]
    corpus_rows = [(i, v) for i, v in rows if i != 0]
    got = mmr_select(emb.filter(F.col("vec_id") != 0), qv, k=4).collect()
    assert [r["sel_rank"] for r in got] == [1, 2, 3, 4]
    expected = _py_mmr(corpus_rows, qv, 4)
    assert [(r["vec_id"], r["mmr_score"]) for r in got] == expected


def test_mmr_select_diversifies_across_clusters(emb):
    """Plain top-k picks everything from the query's own tight
    cluster; diversity-weighted MMR (λ = 3/10, so the redundancy
    penalty dominates the ~1.0 within-cluster sims) must reach into
    the other clusters."""
    from fsc_etl_spark.operators.similarity import mmr_select

    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    corpus = emb.filter(F.col("vec_id") != 0)
    topk_only = mmr_select(corpus, rows[0], k=4, lam_num=10, lam_den=10).collect()
    assert {r["vec_id"] // 10 for r in topk_only} == {0}  # pure-relevance control
    got = mmr_select(corpus, rows[0], k=4, lam_num=3, lam_den=10).collect()
    labels = {r["vec_id"] // 10 for r in got}
    assert len(labels) >= 2, f"MMR picked only cluster(s) {labels}"


def test_mmr_select_invalid_k_raises(emb):
    from fsc_etl_spark.operators.similarity import mmr_select

    with pytest.raises(ValueError, match="k must be"):
        mmr_select(emb, [0.0] * 16, k=0)


def test_multitable_lsh_nonbigint_id(spark, sf_smoke):
    """ADVICE r6: the Arrow signature path must work for corpora whose
    id column is not BIGINT — the mapInPandas schema derives the id
    type from the input instead of hardcoding `long`. Renaming ids to
    strings must produce the same neighbor structure as the bigint
    run (ids map 1:1)."""
    from pyspark.sql import functions as F

    from fsc_etl_spark.sources.readers import read_parquet_table

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    emb_str = emb.withColumn(
        "vec_id", F.format_string("id%08d", F.col("vec_id"))
    )
    queries = emb_str.filter(F.col("vec_id") < "id00000005")
    out = lsh_multitable_topk(
        emb_str, queries, k=5, tables=LSH_TABLES, sig_strategy="pandas"
    ).collect()
    base = lsh_multitable_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=5,
        tables=LSH_TABLES,
        sig_strategy="pandas",
    ).collect()
    got = sorted((r.query_id, r.vec_id, r.cos, r.rank) for r in out)
    want = sorted(
        ("id%08d" % r.query_id, "id%08d" % r.vec_id, r.cos, r.rank)
        for r in base
    )
    assert got == want and len(got) > 0


def test_sql_double_literal_roundtrip(spark):
    """ADVICE r13: pin the _sql_double contract directly — repr()+D
    literals round-trip bit-exactly through a REAL Spark parse for the
    edge doubles (−0.0, denormals, large exponents, ULP neighbours),
    and non-finite values raise before ever reaching SQL."""
    import math
    import struct

    from fsc_etl_spark.operators.similarity import (
        _sql_double,
        lit_bigint_array,
        lit_double_array,
        lit_double_matrix,
    )

    edge = [
        0.0,
        -0.0,
        5e-324,           # smallest subnormal
        -5e-324,
        2.2250738585072014e-308,  # smallest normal
        1.7976931348623157e308,   # largest finite
        -1.7976931348623157e308,
        1.0,
        -1.0,
        1 / 3,
        math.pi,
        0.1 + 0.2,        # classic non-representable sum
        1.5e-300,
        9.007199254740993e15,  # > 2^53, odd mantissa path
        float.fromhex("0x1.fffffffffffffp-2"),
    ]
    got = (
        spark.range(1)
        .select(lit_double_array(edge).alias("a"))
        .first()["a"]
    )
    assert len(got) == len(edge)
    for want, have in zip(edge, got):
        # bit-exact, including the -0.0 sign bit
        assert struct.pack("<d", want) == struct.pack("<d", have), (want, have)

    m = (
        spark.range(1)
        .select(lit_double_matrix([edge[:3], edge[3:6]]).alias("m"))
        .first()["m"]
    )
    assert [struct.pack("<d", v) for r in m for v in r] == [
        struct.pack("<d", v) for v in edge[:6]
    ]

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            _sql_double(bad)
        with pytest.raises(ValueError):
            lit_double_array([1.0, bad])

    # empty-input guards (ADVICE r13): typed empties, not ARRAY<VOID>
    row = (
        spark.range(1)
        .select(
            lit_double_array([]).alias("d"),
            lit_bigint_array([]).alias("b"),
            lit_double_matrix([]).alias("m"),
            lit_double_matrix([[], []]).alias("mm"),
        )
        .first()
    )
    assert row["d"] == [] and row["b"] == [] and row["m"] == []
    assert row["mm"] == [[], []]
    df = spark.range(1).select(
        lit_double_array([]).alias("d"),
        lit_bigint_array([]).alias("b"),
        lit_double_matrix([]).alias("m"),
    )
    assert dict(df.dtypes) == {
        "d": "array<double>",
        "b": "array<bigint>",
        "m": "array<array<double>>",
    }
