"""Training-data pipeline queries over documents/embeddings.

The dedup / similarity / text-analysis / multimodal surface the
driver's north star asks for (BASELINE.json), each as a
(spark, sf_dir) -> DataFrame callable with — wherever SQL can express
it — a DuckDB oracle twin in plans/oracles_training.py. md5 is the
shared hash primitive specifically because both engines implement it
identically, making even MinHash/SimHash signatures oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.functions.text import (
    bpe_token_count,
    char_count,
    fingerprint_md5,
    lang_id,
    punct_count,
    quality_score,
    shingles_from_tokens,
    stopword_count,
    token_count,
    tokens,
    LANG_STOPWORDS,
)
from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.dedup import (
    connected_components_min_label,
    connected_components_star,
    exact_dedup_stats,
    jaccard_token_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_sig,
    simhash_neardup_pairs as _simhash_pairs,
)
from fsc_etl_spark.operators.multimodal import documents_as_media, extract_features
from fsc_etl_spark.operators.sampling import pps_systematic
from fsc_etl_spark.operators.trend import group_trend_slope
from fsc_etl_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    cosine_topk_pandas,
    ivf_topk,
    lsh_bucketed_topk,
    knn_label_agreement,
    lsh_multitable_topk,
    mmr_select,
    nearest_neighbor_within_group,
    semdedup_prune,
)
from fsc_etl_spark.sources.readers import read_parquet_table as t

# Fixed random-hyperplane set for the LSH ANN path — seeded, embedded
# in the plan as literals so runs are reproducible without a library
# dependency at execution time.
import numpy as _np

_rng = _np.random.default_rng(42)
LSH_HYPERPLANES: list[list[float]] = _rng.standard_normal((6, 64)).tolist()
# Multi-table LSH planes (round 6): 12 OR-ed tables of 4 planes each.
# Drawn AFTER the single-table set from the same stream so the legacy
# planes keep their values. b=4/L=12 measured ~0.8 recall on the
# fixture embeddings (near-orthogonal worst case, ~66-73° true
# neighbors) vs ~0.0-0.04 for one 6-bit table; sign-flip margin
# min |dot| >= 1.2e-5 across sf0.001/0.01/0.1 (oracle-safe).
LSH_TABLES: list[list[list[float]]] = _rng.standard_normal((12, 4, 64)).tolist()

# Pinned (data-independent) quantizers for the ORACLE-AUDITED ANN
# variants (round 6, VERDICT r5 item 5): drawn AFTER the LSH sets from
# the same seed-42 stream so every earlier literal keeps its value.
# IVF: 8 unit-norm centroids — with |c|=1 the assignment score
# dot(x,c)/|x| - |c|^2/2 reduces to spherical-KMeans argmax, so cells
# stay balanced on the near-orthogonal fixtures. PQ: 8 subspaces x 16
# codes of 8 dims, each code unit-normalized then scaled to 1/sqrt(8)
# (the expected subvector norm of an L2-normalized 64-dim vector), so
# codes sit at the data's radius without training.
_ivf_raw = _rng.standard_normal((8, 64))
IVF_PINNED_CENTROIDS: list[list[float]] = (
    _ivf_raw / _np.linalg.norm(_ivf_raw, axis=1, keepdims=True)
).tolist()
_pq_raw = _rng.standard_normal((8, 16, 8))
PQ_PINNED_CODEBOOKS: list[list[list[float]]] = (
    _pq_raw / _np.linalg.norm(_pq_raw, axis=2, keepdims=True) / _np.sqrt(8.0)
).tolist()


def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        char_count(F.col("text")).alias("n_chars"),
    )


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        punct_count(F.col("text")).alias("n_punct"),
        stopword_count(F.col("text"), LANG_STOPWORDS["en"]).alias("n_stop"),
        quality_score(F.col("text")).alias("quality"),
    )


def lang_id_heuristic(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


def lang_pred_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-quality accounting for the language-ID gate — the
    evaluation every curation pipeline runs before trusting a filter
    at 100 TB (a mis-calibrated lang filter silently drops a
    language's entire corpus slice): per DECLARED language, the
    confusion-matrix marginals against the heuristic's prediction and
    exact integer-ppm precision (of predicting this lang), recall and
    F1 = 2c/(t+p). All-integer floor-div ppm over three bounded
    aggregations (|langs| rows each) from ONE scan; marginal joins are
    broadcast by size. No float anywhere, so the oracle is exact."""
    preds = t(spark, sf, "documents").select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    )
    true_m = preds.groupBy("lang").agg(F.count(F.lit(1)).alias("n_true"))
    pred_m = preds.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    correct = (
        preds.filter(F.col("lang") == F.col("lang_pred"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_correct"))
    )
    return (
        true_m.join(F.broadcast(pred_m), "lang", "left")
        .join(F.broadcast(correct), "lang", "left")
        .select(
            "lang",
            "n_true",
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce(F.col("n_correct"), F.lit(0))
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "case when coalesce(n_pred, 0) = 0 then null"
                " else (1000000 * coalesce(n_correct, 0)) div n_pred end"
            ).alias("precision_ppm"),
            F.expr("(1000000 * coalesce(n_correct, 0)) div n_true").alias(
                "recall_ppm"
            ),
            F.expr(
                "case when n_true + coalesce(n_pred, 0) = 0 then null"
                " else (2000000 * coalesce(n_correct, 0))"
                " div (n_true + coalesce(n_pred, 0)) end"
            ).alias("f1_ppm"),
        )
    )


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))


def dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup_stats(t(spark, sf, "documents"))


def minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_signatures(t(spark, sf, "documents"), k=4, shingle_n=3)


def lsh_near_dup_candidates(spark: SparkSession, sf: str) -> DataFrame:
    sigs = minhash_signatures(t(spark, sf, "documents"), k=8, shingle_n=3)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


def ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return jaccard_token_pairs(t(spark, sf, "documents"), threshold=0.8)


def simhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    return simhash_sig(t(spark, sf, "documents"))


def simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Banded SimHash blocking + exact Hamming verify (<= 3 of 60;
    4×15-bit bands keep band collisions ~n²/2^15)."""
    return _simhash_pairs(t(spark, sf, "documents"))


def dedup_cluster_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dedup clusters: MinHash-LSH candidate pairs as the
    edge set, min-label-propagation connected components on top. Every
    doc gets a cluster_root (= min doc_id of its component); keeping
    one doc per root IS the corpus-dedup survivorship step."""
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return connected_components_min_label(docs.select("doc_id"), pairs)


def dedup_cluster_assign_star(spark: SparkSession, sf: str) -> DataFrame:
    """dedup_cluster_assign with the O(log n)-round large-star/
    small-star components (operators/dedup.connected_components_star)
    instead of diameter-round min-label propagation — identical output
    (unique fixpoint), checked against the same recursive-CTE oracle;
    the variant of choice when candidate graphs chain adversarially."""
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return connected_components_star(docs.select("doc_id"), pairs)


def cluster_soft_dedup_sample(spark: SparkSession, sf: str) -> DataFrame:
    """SOFT dedup (DataComp/FineWeb-style near-dup downweighting):
    instead of keeping exactly one canonical doc per near-dup cluster
    (:func:`cluster_canonical_doc`), every doc survives with
    probability ``1 / cluster_size`` — preserving cluster diversity in
    expectation while flattening duplication mass. The draw is
    RNG-free and integer-exact: keep iff
    ``md5_bucket(doc_id) * cluster_size < 65536`` with the first-4-hex
    bucket (the same deterministic rule the mixture resampler uses),
    so singletons always survive and a size-k cluster keeps ~1
    expected doc.

    Scale shape: MinHash-LSH candidate pairs (banded, never
    all-pairs) + O(log n)-round star connected components for the
    cluster ids, one size aggregate keyed on cluster_root, one join
    back on the same key, and a map-side bucket rule — no global
    state, no sort, nothing quadratic."""
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    clusters = connected_components_star(docs.select("doc_id"), pairs)
    sizes = clusters.groupBy("cluster_root").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
    )
    return clusters.join(sizes, "cluster_root").select(
        "doc_id",
        "cluster_root",
        "cluster_size",
        (bucket * F.col("cluster_size") < 65536).alias("kept"),
    )


def cluster_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split (round 12): route every
    near-dup CLUSTER — not every doc — to one split, so no pair of
    near-duplicate documents ever straddles the train/eval boundary.
    Per-doc hash splits leak: Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") measure >1% of
    validation perplexity tokens duplicated in train on C4/RealNews.
    The group-aware fix is standard (GroupKFold; scaffold splits in
    molecule ML): hash the CLUSTER id with the same md5-bucket rule
    as hash_split_counts (205/256 ≈ 80% train, 230/256 ≈ 90% val) —
    deterministic, RNG-free, identical on any partitioning or rerun.

    Clusters are the MinHash-LSH + large-star/small-star components
    of dedup_cluster_assign_star. Readout per split: cluster/doc/
    token totals plus two audit columns — ``docs_moved`` (docs whose
    per-doc hash split differs from their cluster's split: exactly
    the docs a naive split would have leaked or displaced) and
    ``torn_clusters`` (clusters the per-doc rule would have split
    across boundaries — every one of these is a leak the
    cluster-aware route prevents; the cluster route itself tears
    zero, by construction, since the split is a function of
    cluster_root).

    Scale shape: banded LSH pairs (never all-pairs) + O(log n)-round
    star components, ONE doc-keyed join to attach token counts, one
    (cluster_root)-keyed aggregate, one |splits|-row aggregate — all
    linear, no window, no global sort.
    """
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    clusters = connected_components_star(docs.select("doc_id"), pairs)

    def _split(col):
        h2 = F.substring(F.md5(col.cast("string")), 1, 2)
        return (
            F.when(h2 < "cd", F.lit("train"))
            .when(h2 < "e6", F.lit("val"))
            .otherwise(F.lit("test"))
        )

    member = clusters.join(
        docs.select("doc_id", token_count(F.col("text")).alias("n_tokens")),
        "doc_id",
    ).select(
        "cluster_root",
        "n_tokens",
        _split(F.col("cluster_root")).alias("split"),
        _split(F.col("doc_id")).alias("doc_split"),
    )
    # split is a function of cluster_root; keyed on both so the split
    # label rides the aggregate instead of a re-join.
    per_cluster = member.groupBy("cluster_root", "split").agg(
        F.count(F.lit(1)).alias("c_docs"),
        F.sum("n_tokens").alias("c_tokens"),
        F.sum((F.col("doc_split") != F.col("split")).cast("long")).alias("c_moved"),
        F.count_distinct("doc_split").alias("c_splits"),
    )
    return per_cluster.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("c_docs").cast("bigint").alias("n_docs"),
        F.sum("c_tokens").cast("bigint").alias("total_tokens"),
        F.sum("c_moved").cast("bigint").alias("docs_moved"),
        F.sum((F.col("c_splits") > 1).cast("long")).cast("bigint").alias(
            "torn_clusters"
        ),
    )


def text_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Subword-proxy token counts (BPE-ish regex pre-tokenizer)."""
    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
    )


def _scaled_cell_frame(spark: SparkSession, sf: str, with_label: bool = False):
    """Shared prep for the cell-blocked near-dup/NN driver queries
    (round 10, VERDICT r9 #1): train a DATA-GROWN codebook
    (k = clamp(n/512, 8, 1024) — clustering.scaled_codebook_size, the
    same formula the scale probe grows) with the integer-exact
    distributed Lloyd trainer, then assign every vector to its nearest
    cell through the broadcast-codebook Arrow matmul
    (similarity.assign_cells_pandas). Because k grows with the corpus,
    per-cell population stays ~512 and every within-cell pairwise step
    downstream is LINEAR in the corpus — the fix for the r9 probe's
    15.4x/13.4x fixed-label-block quadratics. Returns (cells, k)."""
    from fsc_etl_spark.operators.clustering import scaled_codebook_size, train_codebook
    from fsc_etl_spark.operators.similarity import _as_double, assign_cells_pandas, l2_norm

    emb = t(spark, sf, "embeddings")
    k = scaled_codebook_size(emb.count())
    centers = train_codebook(emb, k=k, iters=2)
    cols = ["vec_id"] + (["label"] if with_label else [])
    base = emb.select(
        *cols, _as_double(F.col("embedding")).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    return assign_cells_pandas(base, centers, vec_col="v", norm_col="n"), k


def dedup_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic near-dup pairs INSIDE trained IVF cells: cosine ≥ 0.3
    among same-cell vectors (the fixture embeddings are random, so 0.3
    is the interesting tail — real corpora use ~0.95+). Re-blocked in
    round 10 (VERDICT r9 #1) from the fixed-cardinality `label` key —
    whose block size grew with the corpus (10x probe: 15.4x) — onto a
    DATA-GROWN trained-codebook cell, the SemDeDup blocking shape:
    k = clamp(n/512, 8, 1024) cells keep within-cell pair work linear
    at any scale, and near-dups land in the same cell by construction
    (that is what the coarse quantizer optimizes). FULL hash oracle:
    the integer-exact Lloyd codebook is bit-replicated per-SF from the
    fixture parquet (oracles_training._replicated_train_codebook) and
    inlined into the audited assignment + pair-join SQL."""
    cells, _ = _scaled_cell_frame(spark, sf)
    return cosine_near_dup_pairs(cells, threshold=0.3, block_col="cell", vec_col="v")


def embed_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: K-Means coarse quantizer + nprobe cell probing.
    nprobe=4 of 8 cells (round 6, was 3): measured recall 0.64→0.80 at
    sf0.1 (0.68→0.76 at sf0.01) at the same runtime, while still
    pruning half the cells. FULL hash oracle since round 7 (was
    rows-only): the deterministic Lloyd training (first 4096 vectors
    by id, no RNG) is replicated bit-for-bit from the fixture parquet
    and the trained centroids inline into the same audited IVF SQL
    the pinned tier uses — the search pipeline is independently
    DuckDB-verified given the codebook; margins in
    oracles_training._replicated_quantizers. Recall vs the exact path
    is additionally asserted in tests/test_dedup_similarity.py."""
    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=4)


def embed_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_topk): 64-dim
    vectors compressed to 8 subspace codes, ADC lookup-table scoring,
    exact re-rank of the top-40k candidates. The memory-bound scale
    tier beside LSH buckets and IVF cells. refine=40 (round 6, was 4):
    on these near-orthogonal fixtures the ADC ranking is noisy, and
    the measured recall-vs-refine curve is flat in cost (encode
    dominates) — 0.16→0.80 at sf0.1 / 0.64→1.00 at sf0.01 for the
    same ~5 s runtime. FULL hash oracle since round 7 (was rows-only):
    the deterministic Lloyd codebooks are replicated bit-for-bit from
    the fixture parquet and inline into the same audited PQ/ADC SQL
    the pinned tier uses (oracles_training._replicated_quantizers —
    encode/cutoff margins measured across SFs). Recall vs the exact
    path is additionally asserted in tests/test_dedup_similarity.py."""
    from fsc_etl_spark.operators.similarity import pq_topk

    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, queries, k=5, n_subspaces=8, n_codes=16, refine=40)


def embed_ivf_pinned_topk(spark: SparkSession, sf: str) -> DataFrame:
    """AUDITED IVF ANN (VERDICT r5 item 5): same inverted-file pipeline
    as embed_ivf_topk but with the PINNED data-independent coarse
    quantizer (IVF_PINNED_CENTROIDS, 8 unit-norm seeded centroids)
    instead of a Lloyd-trained one, which makes every step — cell
    assignment argmin, probe ranking, candidate join, exact 6dp
    re-rank — a deterministic function of data and literals, so the
    query carries a FULL DuckDB hash oracle (oracles_training.
    _ivf_pinned_oracle; the centroids inline as literals like the LSH
    planes). nprobe=5 of 8 still prunes 3/8 of the corpus; measured
    recall vs exact 0.72/0.80/0.68 at sf0.001/0.01/0.1. Cross-engine
    margins (min gap an accumulation-order ulp would have to beat):
    assignment 2.9e-6, probe boundary 1.3e-4 across all three SFs —
    7+ orders above fold noise."""
    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=5, nprobe=5, codebook=IVF_PINNED_CENTROIDS)


def embed_pq_pinned_topk(spark: SparkSession, sf: str) -> DataFrame:
    """AUDITED PQ ANN: embed_pq_topk's ADC pipeline with PINNED
    per-subspace codebooks (PQ_PINNED_CODEBOOKS, 8x16 seeded codes at
    the 1/sqrt(8) data radius) and the pure-expression encode path, so
    encode argmin, ADC lookup ranking, the refine-pool cutoff and the
    exact re-rank are all deterministic given literals and the query
    carries a FULL DuckDB hash oracle (oracles_training.
    _pq_pinned_oracle). Measured recall vs exact 0.88/0.92/0.72 at
    sf0.001/0.01/0.1 with refine=40. Cross-engine margins: encode
    argmin 1.3e-7, ADC cutoff 2.3e-5 — the ADC sum re-orders at most 8
    addends (~1e-16 noise), 11+ orders under the cutoff margin. Those
    margins also cover the ENCODE PATH choice: the Arrow matmul encode
    ((v/|v|) @ C^T, numpy half-norms) and the expression encode
    (dot(v,c)/|v| − half_sq literal) differ by at most a last-ulp
    reassociation, so both pick identical codes — measured 7.8 s vs
    4.4 s at sf0.1 for expr vs pandas, so the matmul path is the
    production choice and the expr twin is identity-gated in
    tests/test_dedup_similarity.py."""
    from fsc_etl_spark.operators.similarity import pq_topk

    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_topk(
        emb,
        queries,
        k=5,
        refine=40,
        codebooks=PQ_PINNED_CODEBOOKS,
        encode_strategy="pandas",
    )


def embed_semdedup_prune(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540)
    over the embeddings table: nearest-pinned-centroid clustering
    (IVF_PINNED_CENTROIDS — the audited ANN tier's data-independent
    codebook), within-cluster cosine >= 0.30 duplicate pairs, and the
    paper's keep-the-edge-example survivorship (drop the pair member
    closer to its centroid; rounded-csim ties break on vec_id). 0.30
    is the fixture-geometry threshold (near-orthogonal embeddings —
    real corpora use ~0.95+), chosen with measured decision margins:
    min |cos - 0.30| = 3.3e-5, zero rounded-csim ties, min 6dp
    half-boundary gap 1.1e-12 across sf0.001/0.01/0.1 — all orders
    above ~1e-16 fold noise, so the hash oracle is stable
    (scripts/ann_margin_audit.py re-measures).

    Scale shape: literal-codebook map-side assignment, cell-blocked
    shuffle_hash pair join (production sizes the codebook so clusters
    stay bounded — never all-pairs), one distinct + one keyed join for
    the kept flag."""
    return semdedup_prune(
        t(spark, sf, "embeddings", parallel=True), IVF_PINNED_CENTROIDS, threshold=0.30
    )


def embed_knn_label_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Label-consistency audit over the embeddings table (confident-
    learning shape): 3-NN majority label within the audited pinned-
    centroid cells vs each vector's own label; disagreements are
    mislabeled-data candidates. Fully deterministic (rounded-cosine +
    id orderings over the IVF_PINNED_CENTROIDS literal codebook) and
    hash-oracled; the rounding hazard is the same within-cell pair
    cosine scripts/ann_margin_audit.py already bounds.

    Scale shape: see operators/similarity.knn_label_agreement — one
    cell-blocked pair join, per-vector windows, two vec-keyed aggs."""
    return knn_label_agreement(
        t(spark, sf, "embeddings", parallel=True), IVF_PINNED_CENTROIDS
    )


def embed_semdedup_trained(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup over a TRAINED 16-cell codebook — the full scale-path
    mechanism (VERDICT r6 missing #2) driver-verified end to end:
    operators/clustering.train_codebook fits the codebook with
    distributed integer-exact Lloyd (2 rounds, broadcast centroids,
    one (cluster,dim)-keyed integer agg per round), and assignment +
    centroid cosine run through the broadcast-codebook Arrow-matmul
    path (assign_strategy="pandas" — the mechanism that scales to the
    ~50k cells SemDeDup's paper uses, unlike the literal-expression
    8-cell tier). FULL hash oracle: the trainer is integer-exact, so
    oracles_training._replicated_train_codebook replays the identical
    recurrence from the fixture parquet (bit-identical by
    construction, identity-pinned in tests) and the trained centroids
    inline into the audited semdedup SQL. Margin audit extended with
    trained-codebook tau/loser/round-boundary rows. Scale shape: same
    as embed_semdedup_prune with cells data-sized instead of pinned."""
    from fsc_etl_spark.operators.clustering import train_codebook

    emb = t(spark, sf, "embeddings", parallel=True)
    cb = train_codebook(emb, k=16, iters=2)
    return semdedup_prune(emb, cb, threshold=0.30, assign_strategy="pandas")


def embed_knn_audit_trained(spark: SparkSession, sf: str) -> DataFrame:
    """kNN label-consistency audit over the TRAINED 16-cell codebook
    with broadcast-codebook Arrow assignment — the scale-path twin of
    embed_knn_label_audit (see embed_semdedup_trained's contract:
    integer-exact trained codebook replicated into the oracle,
    identity-pinned trainer, audited margins)."""
    from fsc_etl_spark.operators.clustering import train_codebook

    emb = t(spark, sf, "embeddings", parallel=True)
    cb = train_codebook(emb, k=16, iters=2)
    return knn_label_agreement(emb, cb, assign_strategy="pandas")


def embed_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=5)


def ivf_cell_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Index-balance audit of the TRAINED IVF coarse quantizer (round
    9): per-cell population, corpus share, and load-vs-uniform ratio
    in exact integer ppm — the health check run before shipping an
    IVF index (a skewed quantizer concentrates probes on hot cells
    and silently loses the nprobe pruning ratio; ~uniform cells are
    what make nprobe/k the cost model).

    Determinism: the codebook is clustering.train_codebook's
    INTEGER-exact Lloyd (k=16, 2 rounds — bit-replicated in the
    oracle via oracles_training._replicated_train_codebook, the same
    identity-pinned recurrence embed_semdedup_trained relies on), and
    assignment is the audited literal-expression argmax (lowest cell
    on ties) whose cross-engine margins the ANN margin audit already
    measures on the identical trained codebook. Counts and trunc-div
    ppm are pure integers.

    Scale shape: training = 2 linear scans + a k·d driver collect
    per round; assignment is map-side literal expressions (no join,
    no shuffle); everything after is a k-row aggregate zero-filled
    over the cell grid."""
    from fsc_etl_spark.operators.clustering import train_codebook
    from fsc_etl_spark.operators.similarity import _argmin_code, _as_double, l2_norm

    emb = t(spark, sf, "embeddings")
    centers = train_codebook(emb, k=16, iters=2)
    total = emb.count()
    assigned = (
        emb.select(_as_double(F.col("embedding")).alias("v"))
        .withColumn("n", l2_norm(F.col("v")))
        .select(_argmin_code(F.col("v"), centers, norm=F.col("n")).alias("cell"))
    )
    pops = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    grid = spark.range(0, 16).select(F.col("id").cast("int").alias("cell"))
    return grid.join(pops, "cell", "left").select(
        "cell",
        F.coalesce(F.col("n_vecs"), F.lit(0)).cast("bigint").alias("n_vecs"),
        F.expr(f"(1000000 * coalesce(n_vecs, 0L)) div {total}")
        .cast("bigint")
        .alias("share_ppm"),
        F.expr(f"(16000000 * coalesce(n_vecs, 0L)) div {total}")
        .cast("bigint")
        .alias("load_x_uniform_ppm"),
    )


def embed_ann_recall_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of every ANN tier against the EXACT brute-force
    ranking, as a driver-checked query (VERDICT r8 #4): one row per
    tier with the matched-pair count and recall in exact integer ppm.
    Previously the recall claims lived only in pytest
    (tests/test_dedup_similarity.py); this makes approximate-tier
    QUALITY part of the driver contract — a recall regression in any
    tier flips the hash row red.

    Exactness: both rankings are the audited (6dp-rounded cosine
    DESC, id ASC) total order; hits = |tier top-5 ∩ exact top-5| per
    query summed over the 5 contract queries, recall_ppm =
    (1e6·hits) div 25 — all integers, so the oracle (the same five
    tier pipelines composed in DuckDB, trained codebooks inlined via
    SF_ORACLE_GENERATORS) needs no margin argument beyond the ones
    each tier already carries.

    Scale shape: the 5 tier subplans + the exact subplan are the
    already-audited pipelines; the recall layer adds one broadcast
    semi join (25-row exact set) and a |tiers|-row aggregate. OFF
    bench: composes the five benched tiers, no new physical shape."""
    tiers: list[tuple[str, Callable[[SparkSession, str], DataFrame]]] = [
        ("ivf_pinned", embed_ivf_pinned_topk),
        ("ivf_trained", embed_ivf_topk),
        ("lsh_multitable", embed_lsh_topk),
        ("pq_pinned", embed_pq_pinned_topk),
        ("pq_trained", embed_pq_topk),
    ]
    exact = embed_cosine_topk(spark, sf).select("query_id", "vec_id")
    tagged = None
    for name, fn in tiers:
        tf = fn(spark, sf).select(
            F.lit(name).alias("tier"), "query_id", "vec_id"
        )
        tagged = tf if tagged is None else tagged.unionByName(tf)
    hits = (
        tagged.join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    names = spark.createDataFrame([(nm,) for nm, _ in tiers], "tier string")
    return (
        names.join(hits, "tier", "left")
        .select(
            "tier",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            F.lit(25).cast("bigint").alias("n_total"),
            F.expr("(1000000 * coalesce(hits, 0)) div 25")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


#: nprobe sweep points for the recall curve — 8 probes = every cell,
#: so the curve's right endpoint doubles as an exact-recall sanity pin.
_NPROBE_SWEEP = (1, 2, 4, 6, 8)


def ivf_nprobe_recall_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the PINNED-codebook IVF tier as a function of
    nprobe (1/2/4/6/8 of 8 cells) against the exact brute-force
    ranking — the tuning curve an index operator reads before picking
    the recall/cost point (round 10; nprobe/k IS the IVF cost model,
    and the r9 ivf_cell_balance audit is what makes that model
    honest). One row per sweep point with the matched-pair count and
    exact integer recall ppm; nprobe=8 probes every cell, so its row
    pins recall = 1.0 by construction.

    Exactness: each sweep point is the SAME audited deterministic
    pipeline embed_ivf_pinned_topk carries (literal pinned codebook,
    (s DESC, cell ASC) probe ranking, 6dp-rounded (cos DESC, id ASC)
    re-rank) at a different probe cutoff; the measured probe-boundary
    margin (1.3e-4, scripts/ann_margin_audit.py) bounds CONSECUTIVE
    ranked-cell gaps, so every cutoff 1..8 is engine-stable. Full
    static hash oracle composes _ivf_pinned_oracle(nprobe=N).

    Scale shape: five nprobe-bounded IVF subplans + one exact subplan,
    one 25-row broadcast semi join, a |sweep|-row aggregate. OFF
    bench: composes the benched pinned tier at five settings, no new
    physical shape."""
    emb = t(spark, sf, "embeddings", parallel=True)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = embed_cosine_topk(spark, sf).select("query_id", "vec_id")
    tagged = None
    for n in _NPROBE_SWEEP:
        tf = ivf_topk(
            emb, queries, k=5, nprobe=n, codebook=IVF_PINNED_CENTROIDS
        ).select(F.lit(n).cast("int").alias("nprobe"), "query_id", "vec_id")
        tagged = tf if tagged is None else tagged.unionByName(tf)
    hits = (
        tagged.join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    grid = spark.createDataFrame([(n,) for n in _NPROBE_SWEEP], "nprobe int")
    return grid.join(hits, "nprobe", "left").select(
        "nprobe",
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
        F.lit(25).cast("bigint").alias("n_total"),
        F.expr("(1000000 * coalesce(hits, 0)) div 25")
        .cast("bigint")
        .alias("recall_ppm"),
    )


def embed_cosine_topk_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow/numpy twin of embed_cosine_topk (same oracle): per-batch
    BLAS matrix product instead of per-pair F.aggregate folds."""
    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_pandas(emb, queries, k=5)


_MAXSIM_SUBS = 4
_MAXSIM_SUBDIM = 16
_MAXSIM_K = 5


def maxsim_late_interaction(spark: SparkSession, sf: str) -> DataFrame:
    """Late-interaction MaxSim retrieval scoring (Khattab & Zaharia
    2020, ColBERT) — the multi-vector member of the retrieval family
    beside the single-vector embed_cosine_topk and the lexical
    bm25_topk_docs: each vector is treated as S=4 token-level
    subvectors (16 dims each — the fixture carries one 64-dim vector
    per doc, so the slices stand in for per-token embeddings; a real
    corpus supplies them directly) and
    score(q, d) = Σ_i max_j cos(q_i, d_j) — every query token scores
    its best-matching doc token, summed. Queries are vec_id < 5 (the
    embed_cosine_topk convention, self excluded), top-5 per query.

    Exactness: each pairwise cos is the repo's proven
    ROUND(dot/(‖q‖·‖d‖), 6); the per-(query, i, doc) MAX compares
    those rounded doubles exactly, is then quantized to an integer
    micro score (ROUND(best·10⁶)), and the final Σ over the 4 query
    slots is pure BIGINT — accumulation-order-proof where a double
    sum would be ulp-sensitive across engines (the micro-nat
    discipline). Ties break (score_micro DESC, vec_id ASC).

    Scale shape: the 20 query subvectors broadcast; the corpus
    explodes map-side to 4 subvector rows per doc and scores 80
    pairs/doc in-task (one 16-dim fold each); then TWO keyed aggs —
    (query, slot, doc) MAX with map-side partials, (query, doc) SUM —
    and the per-query top-k window (the cosine_topk pattern). No
    corpus self-join, nothing super-linear; at 100 TB the candidate
    generation upstream would be the IVF/LSH tiers, this is the exact
    re-rank stage they feed.
    """
    from fsc_etl_spark.operators.similarity import (
        ROUND_DIGITS,
        _as_double,
        dot,
        l2_norm,
    )

    emb = t(spark, sf, "embeddings", parallel=True).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("v", i * _MAXSIM_SUBDIM + 1, _MAXSIM_SUBDIM)
                    for i in range(_MAXSIM_SUBS)
                ]
            )
        ).alias("i", "sv"),
    ).withColumn("n", l2_norm(F.col("sv")))
    q = subs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("i").alias("qi"),
        F.col("sv").alias("qv"),
        F.col("n").alias("qn"),
    )
    best = (
        subs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("qv"), F.col("sv")) / (F.col("qn") * F.col("n")),
                ROUND_DIGITS,
            ),
        )
        .groupBy("query_id", "qi", "vec_id")
        .agg(F.max("cos").alias("best"))
        .select(
            "query_id",
            "vec_id",
            F.expr("CAST(ROUND(best * 1000000, 0) AS BIGINT)").alias(
                "best_micro"
            ),
        )
    )
    scores = best.groupBy("query_id", "vec_id").agg(
        F.sum("best_micro").cast("bigint").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("vec_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MAXSIM_K)
        .select("query_id", "vec_id", "score_micro", "rank")
    )


#: (name, positive token, negative token) — the labeling functions are
#: DETERMINISTIC pure keyword rules (the driver-brief constraint on
#: heuristics): label = sign(count(pos) − count(neg)), 0 = abstain.
_WEAK_LFS = [
    ("lf_flow", "stream", "batch"),
    ("lf_size", "big", "small"),
    ("lf_speed", "fast", "slow"),
]


def weak_label_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Weak-supervision labeling-function audit (Ratner et al. 2017,
    Snorkel): before training a label model, a pipeline measures each
    labeling function's coverage/polarity, every pair's
    agreement/conflict on co-active docs, and the majority-vote class
    balance. Three deterministic keyword LFs over the corpus (label =
    sign(count(pos_token) − count(neg_token)) ∈ {−1, 0, +1}, 0 =
    abstain); vote = sign(Σ labels).

    Output is LONG-format (scope, metric, value) — 21 BIGINT counter
    rows: per-LF coverage/n_pos/n_neg, per-pair (lexicographic
    'a|b' scope) n_both/n_agree/n_conflict, and the vote class
    counts — ordered by (scope, metric), all pure integers.

    Scale shape: the LF evaluation is one map-side projection per doc
    (three token-count comparisons over one tokenization); ALL 21
    counters come out of a SINGLE global aggregate (map-side partials
    → one 1-row reduce) and the long format is a literal 21-row
    stack over that row — the corpus is scanned once and never
    shuffled.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    tk = docs.select(tokens(F.col("text")).alias("tk"))

    def lf(pos: str, neg: str):
        p = F.size(F.filter(F.col("tk"), lambda x: x == pos))
        n = F.size(F.filter(F.col("tk"), lambda x: x == neg))
        return (
            F.when(p > n, F.lit(1)).when(p < n, F.lit(-1)).otherwise(F.lit(0))
        )

    lab = tk.select(
        *[lf(p, n).alias(name) for name, p, n in _WEAK_LFS]
    ).withColumn(
        "vote",
        F.expr(
            "CASE WHEN lf_flow + lf_size + lf_speed > 0 THEN 1 "
            "WHEN lf_flow + lf_size + lf_speed < 0 THEN -1 ELSE 0 END"
        ),
    )
    names = [name for name, _, _ in _WEAK_LFS]
    aggs = []
    stack_terms = []

    def counter(scope: str, metric: str, cond):
        col = f"c{len(aggs)}"
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(col))
        stack_terms.append(f"'{scope}', '{metric}', {col}")

    for name in names:
        counter(name, "coverage", F.col(name) != 0)
        counter(name, "n_neg", F.col(name) == -1)
        counter(name, "n_pos", F.col(name) == 1)
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b, scope = names[i], names[j], f"{names[i]}|{names[j]}"
            both = (F.col(a) != 0) & (F.col(b) != 0)
            counter(scope, "n_agree", both & (F.col(a) == F.col(b)))
            counter(scope, "n_both", both)
            counter(scope, "n_conflict", both & (F.col(a) != F.col(b)))
    counter("vote", "n_neg", F.col("vote") == -1)
    counter("vote", "n_pos", F.col("vote") == 1)
    counter("vote", "n_zero", F.col("vote") == 0)
    wide = lab.agg(*aggs)
    stack = f"stack({len(stack_terms)}, " + ", ".join(stack_terms) + ")"
    return (
        wide.select(F.expr(stack).alias("scope", "metric", "value"))
        .orderBy("scope", "metric")
    )


def _daily_user_counts(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2000-01-01").cast("date")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def user_trend_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity trend: OLS slope of daily event count over day
    index, closed form ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` over plain
    integer sums. Both x and y are small ints, so every sum is EXACT in
    64-bit — no accumulation-order drift, any partial-agg schedule
    gives bit-identical slopes. Pure codegen; the pandas twin
    (user_trend_slope_pandas) is the model-per-group escape hatch."""
    daily = _daily_user_counts(spark, sf)
    x = F.col("day_idx").cast("long")
    y = F.col("n")
    agg = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    den = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return agg.select(
        "user_id",
        # + 0.0 collapses IEEE negative zero (round() of a tiny
        # negative yields -0.0; the pandas twin's numpy path can give
        # +0.0 for the same group) — exact for every other value.
        (F.round(F.when(den > 0, num / den), 6) + F.lit(0.0)).alias("slope"),
        F.col("k").alias("n_points"),
    )


def user_trend_slope_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """applyInPandas twin of user_trend_slope (operators/trend.py):
    the template for per-group models with no SQL closed form. Same
    REGR_SLOPE-style contract, checked against the same oracle."""
    daily = _daily_user_counts(spark, sf)
    out = group_trend_slope(daily, key_col="user_id", x_col="day_idx", y_col="n")
    return out.select(
        "user_id", (F.round("slope", 6) + F.lit(0.0)).alias("slope"), "n_points"
    )


def embed_nn_within_label(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest SAME-LABEL neighbor, candidates bounded to the vector's
    trained IVF cell — re-blocked in round 10 (VERDICT r9 #1) from the
    bare fixed-cardinality `label` key (block ∝ corpus → 10x probe
    13.4x) onto the composite (cell, label) key with a DATA-GROWN
    codebook (k = clamp(n/512, 8, 1024)), the embed_knn_audit_scaled
    shape: per-cell population stays ~512, so the pair join is linear
    in the corpus and exact cosine ranking runs only inside the cell.
    Vectors whose cell holds no same-label sibling drop out (the
    approximate-NN contract — at real scale the quantizer puts true
    neighbors in the same cell). FULL hash oracle via the per-SF
    bit-replicated trained codebook."""
    cells, _ = _scaled_cell_frame(spark, sf, with_label=True)
    return nearest_neighbor_within_group(
        cells, group_col=["cell", "label"], vec_col="v"
    )


def embed_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data prep step
    (DPR/SimCSE recipe): for each query vector, the top-5 most similar
    corpus vectors with a DIFFERENT label (similar-but-wrong examples
    are the negatives that actually move a contrastive loss; random
    negatives are too easy). The complement of embed_nn_within_label's
    same-label neighbors. Exact tier: broadcast the bounded query set,
    score map-side with the 6dp-rounded cosine, one per-query rank
    window — the cosine_topk shape with a label-inequality predicate
    pushed before the fold, so at 100 TB the scan prunes to
    label-mismatched rows before any arithmetic. Full hash oracle
    (same rounding/tie-break discipline as the exact ANN tier)."""
    emb = t(spark, sf, "embeddings", parallel=True)
    from fsc_etl_spark.operators.similarity import ROUND_DIGITS, _as_double, dot, l2_norm

    q = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            _as_double(F.col("embedding")).alias("q_vec"),
        )
        .withColumn("q_n", l2_norm(F.col("q_vec")))
    )
    c = emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("c_vec")
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    cand = (
        c.join(F.broadcast(q), c["label"] != q["q_label"])
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", F.col("label").alias("neg_label"), "cos", "rank")
    )


def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training, step one (Sennrich et al. 2016): count
    adjacent CHARACTER-pair frequencies weighted by word frequency —
    the statistic whose argmax becomes the first merge rule. The
    distributed shape tokenizer trainers actually use at corpus scale:
    count words FIRST (one shuffle; output bounded by the vocabulary,
    not the corpus), then explode each DISTINCT word's adjacent pairs
    (map-side over the vocab-sized frame) and sum the word counts per
    pair (second shuffle, bounded by the pair alphabet). Top-50 by
    (weighted count DESC, pair ASC) — a total order, so the LIMIT is
    deterministic and the twin hash-matches. All-integer."""
    docs = t(spark, sf, "documents")
    words = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    pairs = wc.filter(F.length("w") >= 2).select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.substring(F.col("w"), i, F.lit(1)),
                    F.lit(" "),
                    F.substring(F.col("w"), i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("weighted_count"))
        .orderBy(F.col("weighted_count").desc(), F.col("pair").asc())
        .limit(50)
    )


def embed_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate ANN via multi-table random-hyperplane buckets — the
    100 TB scale path. Round 6: upgraded from one AND-only 6-bit table
    (measured recall ~0.0-0.04 on these near-orthogonal fixtures) to
    12 OR-ed 4-bit tables (~0.8 recall), and from a rows-only driver
    check to a FULL hash oracle: hyperplane LSH is deterministic given
    the seeded planes, so the whole pipeline (signatures → bucket
    union → distinct candidates → exact 6dp re-rank) has a DuckDB twin
    with the planes inlined as literals (oracles_training._lsh_oracle;
    sign-flip margin evidence in its docstring). Recall vs the exact
    result is separately asserted in tests/test_dedup_similarity.py."""
    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_multitable_topk(emb, queries, k=5, tables=LSH_TABLES)


def corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pipeline — the composed shape every
    training-data run needs: quality gate → declared-vs-predicted
    language agreement → exact dedup survivorship (keep lowest id per
    canonical fingerprint). One scan, one shuffle (the dedup groupBy);
    the filters run before the shuffle so only survivors move.
    """
    docs = t(spark, sf, "documents", parallel=True)
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        fingerprint_md5(F.col("text")).alias("fp"),
    )
    gated = scored.filter((F.col("quality") >= 0.75) & (F.col("lang_pred") == F.col("lang")))
    keep = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return (
        gated.join(keep, ["fp", "doc_id"], "left_semi")
        .select("doc_id", "lang", "quality", "fp")
    )


def training_mix_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The END-TO-END curation manifest — every per-document gate in
    the suite composed into ONE declarative plan, aggregated to the
    per-language row a training-mix builder consumes: corpus docs
    (eval slice ``doc_id % 29 == 0`` excluded) counted against the
    quality gate (< 0.75), language-ID disagreement, 8-gram benchmark
    contamination, the >= 20% duplicate-3-gram repetition gate, and
    exact-dup survivorship (keep-first by fingerprint, applied to docs
    passing every content gate), with kept-doc and kept-token totals.
    Gate semantics are identical to the standalone queries
    (:func:`corpus_curation`, :func:`eval_contamination_flags`,
    :func:`repetition_ngram_quality`) — this is the composition
    showcase, not a re-definition; flags are counted independently.

    Scale shape: all gates except contamination are per-row expression
    work over ONE documents scan; contamination adds the broadcast
    eval-n-gram join with a doc-keyed distinct; dedup adds the
    fingerprint groupBy + fp-keyed join-back; the final per-lang
    aggregate is a partial-agg shuffle over ~n_languages groups. All
    outputs are exact integers."""
    n = 8
    docs = t(spark, sf, "documents").select("doc_id", "lang", "text")
    tk = tokens(F.lower(F.col("text")))
    g3 = F.expr(
        "CASE WHEN size(tk3) >= 3 THEN"
        " transform(sequence(1, size(tk3) - 2),"
        " i -> array_join(slice(tk3, i, 3), ' '))"
        " ELSE array() END"
    )
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    counted = corpus.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
        fingerprint_md5(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        tk.alias("tk3"),
    ).select(
        "doc_id",
        "lang",
        "quality",
        "lang_pred",
        "fp",
        "n_tokens",
        F.size(g3).cast("bigint").alias("n_g3"),
        F.size(F.array_distinct(g3)).cast("bigint").alias("n_g3_distinct"),
    )
    scored = counted.withColumn(
        "rep_ppm",
        F.when(
            F.col("n_g3") > 0,
            F.expr("(1000000 * (n_g3 - n_g3_distinct)) div n_g3"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    # 8-gram contamination flag (same grams/eval-slice construction as
    # eval_contamination_flags; only the per-doc boolean is needed)
    toks_all = docs.select("doc_id", tk.alias("tk"))
    grams = toks_all.filter(F.size("tk") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {n - 1}),"
                f" i -> md5(array_join(slice(tk, i, {n}), ' ')))"
            )
        ).alias("g"),
    )
    eval_g = grams.filter(F.col("doc_id") % 29 == 0).select("g").distinct()
    contam_ids = (
        grams.filter(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(eval_g), "g")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    flagged = scored.join(contam_ids, "doc_id", "left").withColumn(
        "contaminated", F.coalesce(F.col("contam"), F.lit(False))
    )
    content_ok = (
        (F.col("quality") >= 0.75)
        & (F.col("lang_pred") == F.col("lang"))
        & ~F.col("contaminated")
        & (F.col("rep_ppm") < 200_000)
    )
    gated = flagged.filter(content_ok)
    keep = gated.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    enriched = flagged.join(keep, "fp", "left").withColumn("ok", content_ok)
    kept = F.col("ok") & (F.col("doc_id") == F.col("keep_id"))
    return enriched.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("quality") < 0.75).cast("bigint")).alias("n_fail_quality"),
        F.sum((F.col("lang_pred") != F.col("lang")).cast("bigint")).alias("n_fail_langid"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
        F.sum((F.col("rep_ppm") >= 200_000).cast("bigint")).alias("n_repetitive"),
        F.sum((F.col("ok") & (F.col("doc_id") != F.col("keep_id"))).cast("bigint")).alias("n_dupes"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).cast("bigint").alias("tokens_kept"),
    )


def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL feature extraction: documents rendered as genuine P6
    images (operators/multimodal.documents_as_ppm_media), decoded by
    the in-repo codec inside extract_features — the feature vector is
    [width, height, px_sum mod 1_000_003, first pixel byte] from the
    ACTUAL pixel decode, not a byte-summary stub. The entries surface
    as typed scalar columns so the DuckDB oracle re-derives every one
    from text byte arithmetic (any header mis-parse or pixel-slice
    drift changes them)."""
    from fsc_etl_spark.operators.multimodal import documents_as_ppm_media

    media = documents_as_ppm_media(t(spark, sf, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "byte_len",
        "checksum",
        F.element_at("feature", 1).cast("double").alias("feat_w"),
        F.element_at("feature", 2).cast("double").alias("feat_h"),
        F.element_at("feature", 3).cast("double").alias("feat_pxmod"),
        F.element_at("feature", 4).cast("double").alias("feat_first"),
    )


def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """The row-exploding video path (one media row → n frame rows)
    through a real Arrow mapInPandas batch: 4 evenly spaced frames per
    media item, reported as (offset, md5) so the deterministic stub
    decode is oracle-checkable byte-for-byte (the fixture text is
    ASCII, so DuckDB's VARCHAR slicing reproduces the byte slices)."""
    from fsc_etl_spark.operators.multimodal import sample_frames

    media = documents_as_media(t(spark, sf, "documents"))
    frames = sample_frames(media, n_frames=4)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "offset_bytes",
        F.md5(F.col("frame")).alias("frame_md5"),
    )


def multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-in/binary-out image transform through mapInPandas: the
    stub resize cycles content bytes to exactly width*height. Oracle
    byte-exact over the ASCII fixture: repeat + truncate in SQL
    reproduces the output, verified per media via md5."""
    from fsc_etl_spark.operators.multimodal import resize_images

    media = documents_as_media(t(spark, sf, "documents"))
    out = resize_images(media, width=16, height=8)
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def multimodal_resize_codec(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image resize end-to-end: deterministic P6 images built
    from document text in JVM expressions (documents_as_ppm_media),
    magic-sniffed by resize_images and pushed through the genuine
    pure-Python codec — decode 12x8, nearest-neighbor resize to 6x4
    (integer index map src=(dst*src)//dst), canonical P6 re-encode.
    The oracle rebuilds the identical pixel selection with string_agg
    over substrings, so content_md5 is byte-exact across engines —
    upgrading the multimodal path from stub to real codec (VERDICT r2
    item 7)."""
    from fsc_etl_spark.operators.multimodal import documents_as_ppm_media, resize_images

    media = documents_as_ppm_media(t(spark, sf, "documents"))
    out = resize_images(media, width=6, height=4)
    return out.select(
        "media_id",
        "mime",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def multimodal_frame_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Raw-video frame pipeline with a REAL decode step: 4 equal-size
    P6 frames concatenated per document (an uncompressed container, so
    sample_frames' evenly-spaced byte slices ARE exact frame grabs),
    then each extracted frame parsed by the genuine P6 decoder and
    verified via dimensions + exact pixel-byte sum. The oracle re-sums
    the same cycled-text byte ranges with ord()/generate_series — any
    header mis-parse, offset drift, or buffer misalignment breaks the
    sum."""
    from fsc_etl_spark.operators.multimodal import (
        decode_frames,
        documents_as_ppm_video,
        sample_frames,
    )

    media = documents_as_ppm_video(
        t(spark, sf, "documents"), width=8, height=4, n_frames=4
    )
    frames = sample_frames(media, n_frames=4)
    return decode_frames(frames).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "px_sum",
    )


def audio_clip_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio end-to-end: deterministic PCM WAV clips built from
    document bytes through the genuine RIFF encoder, then decoded back
    (chunk walk, frame reshape) and analyzed with integer-exact stats
    (peak |sample|, energy = Σ sample², exact µs duration). The oracle
    recomputes the stats from the text bytes — a mis-parsed header or
    misaligned frame anywhere in encode→decode breaks the match."""
    from fsc_etl_spark.operators.multimodal import analyze_audio, documents_as_wav_media

    media = documents_as_wav_media(t(spark, sf, "documents"))
    return analyze_audio(media).select(
        "media_id", "n_frames", "peak", "energy", "duration_us"
    )


def audio_downsample_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Decimation path: decode, keep every 4th frame (deterministic —
    output samples are exact input samples), stats at the divided
    sample rate. Exercises the transform-after-decode shape every
    audio pipeline has."""
    from fsc_etl_spark.operators.multimodal import analyze_audio, documents_as_wav_media

    media = documents_as_wav_media(t(spark, sf, "documents"))
    return analyze_audio(media, downsample_factor=4).select(
        "media_id", "n_frames", "peak", "energy", "duration_us"
    )


#: sliding-window chunking geometry: 64-token windows, stride 48
#: (16-token overlap) — the standard RAG / pretraining chunk shape.
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


def chunk_overlap_docs(spark: SparkSession, sf: str) -> DataFrame:
    """REAL sliding-window chunking — the row-exploding prep step every
    RAG / pretraining pipeline runs: each document becomes
    ``ceil((T - W) / S) + 1`` chunk rows (window W=64 tokens, stride
    S=48, so consecutive chunks share 16 tokens), each carrying its
    exact token span and an md5 of the chunk text.

    All geometry is integer arithmetic (``(T - W + S - 1) div S + 1``,
    no float ceil), and the chunk text is rebuilt by slicing the
    token array — so the DuckDB oracle reproduces every chunk
    byte-for-byte and any off-by-one in the window math breaks the
    hash. Scale shape: map-side explode proportional to output
    chunks; no shuffle at all.
    """
    docs = t(spark, sf, "documents").filter(F.length("text") > 0)
    w, s = CHUNK_WINDOW, CHUNK_STRIDE
    tk = (
        docs.select("doc_id", tokens(F.col("text")).alias("tk"))
        .withColumn("n", F.size("tk").cast("bigint"))
        .filter(F.col("n") > 0)
    )
    n_chunks = F.when(F.col("n") <= w, F.lit(1).cast("bigint")).otherwise(
        F.expr(f"((n - {w} + {s - 1}) div {s}) + 1")
    )
    chunked = tk.withColumn("n_chunks", n_chunks).select(
        "doc_id",
        "tk",
        "n",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * s
    clen = F.least(F.lit(w).cast("bigint"), F.col("n") - start)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("start_tok"),
        clen.cast("bigint").alias("chunk_len"),
        F.md5(
            F.array_join(
                F.slice("tk", (start + 1).cast("int"), clen.cast("int")), " "
            ).cast("binary")
        ).alias("chunk_md5"),
    )


def padding_waste_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token-length bucketing for batch scheduling: documents grouped
    into 32-token-multiple buckets (the pad-to-multiple convention),
    reporting per bucket how many tokens the padded batch would carry
    vs how many are real — the padding-efficiency audit run before
    picking packing/bucketing parameters for a training run.

    Integer-exact: bucket = ((T + 31) div 32) * 32, waste =
    bucket * n_docs - sum(T), utilization in basis points via integer
    division. One map-side bucket assignment + one shuffle (the
    groupBy) at any corpus size.
    """
    docs = t(spark, sf, "documents").filter(F.length("text") > 0)
    tk = docs.select(token_count(F.col("text")).alias("n")).filter(F.col("n") > 0)
    bucket = F.expr("((n + 31) div 32) * 32")
    return (
        tk.select(bucket.alias("bucket"), "n")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            (F.col("bucket") * F.col("n_docs") - F.col("sum_tokens")).alias(
                "pad_tokens"
            ),
            F.expr("(sum_tokens * 10000) div (bucket * n_docs)").alias(
                "utilization_bp"
            ),
        )
    )


def vocab_coverage_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-16 corpus tokens
    (frequency desc, token asc — deterministic tie-break), then report
    each document's in-vocab vs OOV token-instance counts — the
    coverage audit run before freezing any tokenizer vocabulary.

    Plan shape: one vocab-bounded count aggregate, a global top-k
    (TakeOrderedAndProject — per-partition heaps, never a sort), the
    16-row vocab broadcast back against the exploded tokens, one
    per-doc re-aggregation. Counts are exact integers.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(16)
        .select("tok")
    )
    marked = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(True))), "tok", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("in_vocab").isNotNull().cast("bigint")).alias("n_in_vocab"),
        F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
    )


def orc_roundtrip_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ORC source/sink parity (S5-family breadth): the documents
    profile written as ORC (partitioned write, no coalesce) and read
    back through the schema-first ORC reader, then aggregated — the
    same vectorized columnar path as parquet, proving format choice is
    orthogonal to every operator downstream. Oracle runs on the
    original table: a lossy round trip would break counts or sums."""
    from fsc_etl_spark.scratch import scratch_path

    from fsc_etl_spark.sources.readers import read_orc

    docs = t(spark, sf, "documents").select("doc_id", "source", "lang", "n_chars")
    path = scratch_path("orc") + "/documents_orc"
    docs.write.mode("overwrite").orc(path)
    back = read_orc(spark, path, schema=docs.schema)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def binary_file_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The ``binaryFile`` media-ingest source end-to-end: real P6
    image files on disk (one per document, bytes from the same
    deterministic construction documents_as_ppm_media uses), scanned
    as (path, length, content) rows, doc id parsed from the filename —
    the standard first hop of any image/audio corpus before blobs land
    in a media table. Byte-exact oracle: length + md5 recomputed from
    the text construction."""
    import os
    import tempfile

    from fsc_etl_spark.operators.multimodal import documents_as_ppm_media
    from fsc_etl_spark.sources.readers import read_binary_files

    media = documents_as_ppm_media(
        t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    )
    d = tempfile.mkdtemp(prefix="fsc_binfiles_")
    # Fixture staging (driver-side by design — writing loose media
    # files is the PRECONDITION the binaryFile source exists to fix);
    # the measured operator is the scan below.
    for r in media.select("media_id", "content").collect():
        with open(os.path.join(d, f"doc_{r['media_id']}.ppm"), "wb") as f:
            f.write(bytes(r["content"]))
    files = read_binary_files(spark, d, glob="*.ppm")
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.ppm$", 1)
        .cast("bigint")
        .alias("media_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def kmeans_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic distributed K-Means (operators/clustering.py):
    k=4 centroids seeded from the 4 lowest vec_ids, 2 exact-integer
    Lloyd rounds over quantized embeddings, then a final assignment —
    per-cluster member counts and total squared distance. The entire
    iteration is reproduced by the oracle's CTE chain, making this an
    ITERATIVE ML ALGORITHM under the same bit-exact gate as every SQL
    query: quantization keeps distances and centroid means in int64,
    ties break on cluster id, empty clusters carry their previous
    centroid."""
    from fsc_etl_spark.operators.clustering import kmeans_exact

    return kmeans_exact(t(spark, sf, "embeddings", parallel=True), k=4, iters=2)


def hash_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified downsampling — the corpus-rebalancing
    primitive (down-weight the over-represented language). md5 of the
    doc key is the uniform variate: the first two hex chars give a
    256-bucket split, so 'en' keeps 26/256 ≈ 10% and every other
    language keeps 128/256 = 50%. Fully reproducible (no RNG state),
    embarrassingly parallel (pure projection + filter, no shuffle),
    and rerunnable on any partitioning of the input — the property a
    100 TB sampling pass needs."""
    docs = t(spark, sf, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    keep = F.when(F.col("lang") == "en", h2 < F.lit("1a")).otherwise(h2 < F.lit("80"))
    return docs.filter(keep).select("doc_id", "lang", "source", "n_chars")


def embed_mmr_select(spark: SparkSession, sf: str) -> DataFrame:
    """Max-marginal-relevance selection of 5 diverse neighbors for
    query vector 0 (operators/similarity.mmr_select, λ = 7/10): each
    round re-scores the corpus distributed — relevance minus
    similarity to the already-picked set — and takes the argmax. The
    diverse-retrieval / non-redundant-sampling primitive; the
    unrolled greedy hash-matches a round-for-round CTE oracle because
    rel/sim are 6dp-rounded cosines and ties break by vec_id.
    """
    emb = t(spark, sf, "embeddings", parallel=True)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 0)
    return mmr_select(corpus, [float(x) for x in qv], k=5)


def pps_token_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic PPS sample of ~50 documents proportional to token
    count (operators/sampling.pps_systematic): the corpus-curation
    draw where the SAMPLED TOKEN BUDGET, not the document count,
    tracks the target distribution — long documents are drawn with
    probability proportional to their length (w >= stride guarantees
    selection, with multiplicity).

    No RNG: the draw is fully determined by the weights and the
    doc_id order, so the window-cumsum SQL twin hash-matches exactly.
    The prefix sum is the two-phase range-partitioned decomposition —
    no global single-partition sort (the 100 TB contract; plan
    asserted in tests/test_plan_quality.py).
    """
    docs = t(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    picked = pps_systematic(docs, "n_tokens", ["doc_id"], n_target=50)
    return picked.select("doc_id", "n_tokens", "n_hits")


_PRIORITY_K = 50
_PRIORITY_SCALE = 2**40


def weighted_priority_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic priority sampling — the weight-proportional
    WITHOUT-replacement draw of a training-data pipeline (Ohlsson 1998
    sequential Poisson sampling; Duffield, Lund & Thorup 2007 priority
    sampling): each document gets priority q_i = w_i / u_i with weight
    w_i = token count and u_i ~ U(0, 1]; the sample is the top-k by
    priority. Unbiased Horvitz–Thompson weight estimates follow from
    the (k+1)-th priority as threshold; here the draw itself is the
    query. RNG-free and integer-exact: u_i is 28 bits of md5(doc_id)
    plus one (the mixture_resample idiom — never zero), and the
    priority is the exact integer floor (w_i · 2⁴⁰) div u_i in
    DECIMAL(38,0), so the drawn set is bit-reproducible across
    engines, runs, and partitionings. Ties (equal w and u) break by
    doc_id — a total order, so the LIMIT is deterministic and
    hash-stable. Complements pps_token_sample (systematic
    with-multiplicity PPS over a prefix sum): priority sampling needs
    NO cumulative pass, making it the cheaper draw when k ≪ n.

    Scale shape: one pure map-side projection (md5, whitespace token
    count, one integer division) feeding a TakeOrdered top-k heap —
    the corpus never shuffles, no window, no global sort, nothing
    super-linear anywhere.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    return (
        priority_scores(docs)
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(_PRIORITY_K)
    )


def priority_scores(docs: DataFrame) -> DataFrame:
    """Map-side (doc_id, n_tokens, priority) projection shared by the
    batch draw and its streaming fold — priority = exact integer
    floor (token_count · 2⁴⁰) div (28 bits of md5(doc_id) + 1)."""
    dec = "decimal(38,0)"
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
        ).cast(dec)
        + F.lit(1).cast(dec)
    )
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        u.alias("u"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr(
            f"CAST((CAST(n_tokens AS {dec})"
            f" * CAST({_PRIORITY_SCALE} AS {dec})) div u AS BIGINT)"
        ).alias("priority"),
    )


_SNM_KEY_CHARS = 24
_SNM_BLOCK_CHARS = 8
_SNM_OFFSETS = (1, 2)  # window w = 3: each doc pairs with its next 2
_SNM_TOPK = 20


def sorted_neighborhood_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernández &
    Stolfo 1995) — the third blocking family beside hash blocking
    (dedup_exact_groups) and LSH banding (lsh_near_dup_candidates):
    sort records by a discriminating key and compare only records
    within a sliding window of the sort order. Candidate pairs get an
    exact token-set Jaccard readout; top-20 by (jaccard_ppm DESC,
    doc_a, doc_b) — the audit view a curator reads to set the merge
    threshold.

    Key = first 24 chars of lower(trim(text)); the distributed
    lowering is BLOCK-SCOPED SNM: records partition by the key's
    8-char prefix and the w=3 window slides inside each block (the
    standard parallel form — a single global sort order would need
    one total-order partition). Pairs that straddle a block boundary
    are out of scope BY CONSTRUCTION (not dropped at random), which
    is the multi-pass SNM posture: production runs add passes with
    rotated keys, each pass this same query shape. Both engines
    compute the identical block/window definition, so the result is
    deterministic and hash-stable.

    Exactness: Jaccard in ppm over DISTINCT whitespace tokens,
    (10⁶·|∩|) div |∪| — non-negative BIGINTs, flooring == truncating;
    zero-union pairs (both token sets empty) are filtered, ties break
    by (doc_a, doc_b).

    Scale shape: one map-side projection (key, token set), ONE
    shuffle on block for the window, the two lead offsets taken in a
    SINGLE window pass and exploded from one struct array (the
    triangle-credits lesson — a union of per-offset selects would
    re-evaluate the window per branch), then a 20-row TakeOrdered.
    Work is O(n·w); block sizes are bounded by key-prefix density —
    a skewed block (shared boilerplate prefix) is exactly the
    near-duplicate cluster the pass exists to surface, and the
    per-block window keeps its cost linear in the block, never
    quadratic.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, _SNM_KEY_CHARS).alias(
            "key"
        ),
        F.array_distinct(tokens(F.col("text"))).alias("tok"),
    ).withColumn("block", F.substring("key", 1, _SNM_BLOCK_CHARS))
    w = Window.partitionBy("block").orderBy("key", "doc_id")
    leads = base.select(
        "block",
        "doc_id",
        "tok",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(w).alias("b"),
                    F.lead("tok", i).over(w).alias("tb"),
                )
                for i in _SNM_OFFSETS
            ]
        ).alias("nbrs"),
    )
    pairs = (
        leads.select("block", "doc_id", "tok", F.explode("nbrs").alias("x"))
        .filter(F.col("x.b").isNotNull())
        .select(
            "block",
            F.col("doc_id").alias("doc_a"),
            F.col("x.b").alias("doc_b"),
            F.size(F.array_intersect("tok", "x.tb"))
            .cast("bigint")
            .alias("n_inter"),
            F.size(F.array_union("tok", "x.tb")).cast("bigint").alias("n_union"),
        )
    )
    return (
        pairs.filter(F.col("n_union") > 0)
        .select(
            "block",
            "doc_a",
            "doc_b",
            F.expr("CAST((1000000 * n_inter) div n_union AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "doc_a", "doc_b")
        .limit(_SNM_TOPK)
    )


def embed_dim_median_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-DIMENSION embedding statistics (the normalization-prep axis
    orthogonal to embed_norm_stats' per-row norms): posexplode each
    vector, then per dimension the exact median (percentile_cont,
    rounded 4dp per the repo's interpolation-ulp rule), extrema, and
    the integer count of negative components.

    Scale shape: explode is map-side (rows × dims), then ONE shuffle
    on the 64-value dim key — per-dim state is a quantile over a
    column slice, the classic feature-scaling pass.
    """
    e = t(spark, sf, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    )
    return e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.median(F.col("v").cast("double")), 4).alias("med"),
        F.min(F.col("v").cast("double")).alias("vmin"),
        F.max(F.col("v").cast("double")).alias("vmax"),
        F.sum(F.when(F.col("v") < 0, 1).otherwise(0)).alias("n_negative"),
    )


def mixture_temperature_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-2 mixture sampling: downsample each source toward
    the geometric mean ``sqrt(n_src·n_min)`` — the standard softening
    between proportional (T=1) and equalized (T=∞) pretraining
    mixtures — with NO square root and NO RNG anywhere.

    Keep rule: ``h²·n_src < n_min·2^56`` with h = 28 bits of
    md5(doc_id). P(keep) = sqrt(n_min/n_src) exactly (to 2^-28
    granularity), so E[kept] = sqrt(n_src·n_min); the inequality is
    pure DECIMAL(38,0)/HUGEINT integer arithmetic (h²·n ≤ 2^56·n stays
    far under 38 digits at any corpus size), bit-reproducible across
    engines, runs, and partitionings.

    Scale shape: same as mixture_resample_to_min — two scalar/tiny
    broadcasts onto a map-side filter; the corpus never shuffles.
    """
    docs = t(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    mn = counts.agg(F.min("n_src").alias("n_min"))
    dec = "decimal(38,0)"
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
        dec
    )
    kept = (
        docs.join(F.broadcast(counts), "source")
        .join(F.broadcast(mn))
        .filter(
            h * h * F.col("n_src").cast(dec)
            < F.col("n_min").cast(dec) * F.lit(2**56).cast(dec)
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_src",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def mixture_resample_to_min(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic mixture rebalancing: downsample every source to
    the SMALLEST source's size, the equalize step of a pretraining
    mixture. Each doc's keep decision is ``h·n_src < n_min·2^60`` with
    h = 60 bits of md5(doc_id) — an exact integer inequality (decimal
    on the Spark side, HUGEINT in the oracle), so the kept set is
    bit-reproducible across engines, runs, and partitionings, and the
    expected kept count per source is n_min without any RNG state.

    Scale shape: two tiny broadcast joins (per-source counts, global
    min) onto a pure map-side filter — the 100 TB corpus never
    shuffles; only the per-source report aggregation does.
    """
    docs = t(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    mn = counts.agg(F.min("n_src").alias("n_min"))
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    kept = (
        docs.join(F.broadcast(counts), "source")
        .join(F.broadcast(mn))
        .filter(
            h * F.col("n_src").cast("decimal(38,0)")
            < F.col("n_min").cast("decimal(38,0)") * F.lit(2**60).cast("decimal(38,0)")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            "n_src",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def token_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary building: global top-100 whitespace tokens by
    frequency. explode → groupBy is the canonical two-phase count
    (map-side partial aggregation shrinks the token stream before the
    shuffle); (freq DESC, tok) is a total order so the LIMIT is
    deterministic. At 100 TB the same plan holds — the shuffle carries
    one row per distinct token per task, not per occurrence."""
    docs = t(spark, sf, "documents")
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(100)
    )


def pack_chunks_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-then-chunk sequence packing (the standard LLM-pretraining
    layout): within each source shard, documents are laid end-to-end in
    doc_id order and sliced into fixed 2048-token training windows.
    Each doc's [start_off, end_off) span maps to the chunk range it
    occupies — a running-sum window per source, no Python, no global
    sort (packing is shard-local exactly as it is on a real corpus,
    so every source packs in parallel)."""
    cap = 2048
    docs = t(spark, sf, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    end_off = F.sum("n_tokens").over(w)
    start_off = end_off - F.col("n_tokens")
    return docs.select(
        "doc_id",
        "source",
        "n_tokens",
        start_off.alias("start_off"),
        end_off.alias("end_off"),
        F.floor(start_off / cap).alias("start_chunk"),
        F.floor((end_off - 1) / cap).alias("end_chunk"),
        (F.floor((end_off - 1) / cap) - F.floor(start_off / cap) + 1).alias(
            "n_chunks_spanned"
        ),
    )


def minhash_jaccard_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Estimated Jaccard for LSH candidate pairs: the fraction of the
    k=8 min-hashes the two docs agree on — the standard unbiased
    MinHash estimator, so candidates can be thresholded WITHOUT
    touching the raw token sets (at corpus scale the signatures are
    8 fixed-width columns; the exact posting-list verify only runs on
    survivors). Joins are equi-joins on doc_id against the compact
    signature table.

    The signature table is MATERIALIZED once (localCheckpoint): the
    banding self-join and the two estimator joins all reuse it, where
    the lazy plan would re-run the shingle+min-hash aggregation three
    times (Catalyst's ReuseExchange doesn't unify the differently-
    projected subtrees). At corpus scale this is the "write signatures
    to a table, then join" pattern."""
    docs = t(spark, sf, "documents")
    with cache_scope() as cs:
        sigs = cs.checkpoint(minhash_signatures(docs, k=8, shingle_n=3))
        pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
        a = sigs.select(
            F.col("doc_id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)]
        )
        b = sigs.select(
            F.col("doc_id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)]
        )
        agree = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
        )
        return cs.result(
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", F.round(agree / F.lit(8.0), 6).alias("jaccard_est"))
        )


def hash_split_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment — md5 of the doc key as
    the uniform variate, split at 205/256 ≈ 80% and 230/256 ≈ 90%.
    Like hash_stratified_sample: no RNG state, pure projection +
    filter-free groupBy, identical assignment on any partitioning or
    rerun — the reproducibility contract a training-mix split needs.
    Returns per-split doc and token totals (the budgeting view)."""
    docs = t(spark, sf, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), token_count(F.col("text")).alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def bigram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 word bigrams by multiset frequency — the n-gram
    collocation primitive (vocab building, phrase mining). Same
    two-phase count as token_vocab_topk: the shuffle carries one row
    per distinct bigram per task, and (freq DESC, bigram) is a total
    order so the LIMIT is deterministic."""
    from fsc_etl_spark.functions.text import shingles_from_tokens

    docs = t(spark, sf, "documents")
    toked = docs.select(tokens(F.lower(F.col("text"))).alias("__tk"))
    grams = toked.select(
        F.explode(shingles_from_tokens(F.col("__tk"), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram"))
        .limit(50)
    )


def inverted_index_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build (the IR/retrieval core structure): term →
    sorted posting list of doc ids (set semantics — one posting per
    document), reported as document frequency, posting range, and the
    first ten postings (stringified so the driver's row canonicalizer
    gets hashable cells, same rule as array_funcs_breadth).

    Scale shape: distinct-terms explode is map-side; ONE shuffle on
    term; posting lists are bounded by document frequency, and a real
    deployment shards hot terms by posting-range — the df column is
    exactly the stat that drives that sharding decision.
    """
    docs = t(spark, sf, "documents")
    posts = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("term"),
    )
    idx = posts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    return idx.select(
        "term",
        "df",
        F.element_at("postings", 1).alias("first_doc"),
        F.element_at("postings", -1).alias("last_doc"),
        F.array_join(F.slice("postings", 1, 10), ",").alias("head_postings"),
    )


def pmi_top_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 word associations by pointwise mutual information —
    WITHOUT logs or float division: ranking by PMI is ranking by the
    rational nxy·N²/(nx·ny·Nb), so the score is the fixed-point floor
    ``(nxy·N²·100) div (nx·ny·Nb)`` in DECIMAL(38,0), bit-identical
    across engines and a total order with the bigram tiebreak.
    Support floor nxy ≥ 5 keeps rare-pair noise out of the top list.

    Scale shape: one unigram shuffle, one bigram shuffle, two scalar
    broadcasts (N, Nb); the two unigram joins attach to the
    support-filtered (small) bigram side.
    """
    docs = t(spark, sf, "documents")
    with cache_scope() as cs:
        toked = cs.persist(docs.select(tokens(F.lower(F.col("text"))).alias("tk")))
        uni = (
            toked.select(F.explode("tk").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("nx"))
        )
        n_tot = uni.agg(F.sum("nx").alias("n_total"))
        nb_tot = toked.select(
            F.greatest(F.size("tk") - 1, F.lit(0)).alias("nb")
        ).agg(F.sum("nb").alias("nb_total"))
        grams = (
            toked.select(F.explode(shingles_from_tokens(F.col("tk"), 2)).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).alias("nxy"))
            .filter(F.col("nxy") >= 5)
        )
        parts = grams.select(
            "bigram",
            "nxy",
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        u1 = uni.select(F.col("w").alias("w1"), F.col("nx").alias("nx1"))
        u2 = uni.select(F.col("w").alias("w2"), F.col("nx").alias("nx2"))
        dec = "decimal(38,0)"
        joined = (
            parts.join(u1, "w1")
            .join(u2, "w2")
            .join(F.broadcast(n_tot))
            .join(F.broadcast(nb_tot))
        )
        score = F.expr(
            "CAST((CAST(nxy AS DECIMAL(38,0)) * CAST(n_total AS DECIMAL(38,0))"
            " * CAST(n_total AS DECIMAL(38,0)) * 100)"
            " div (CAST(nx1 AS DECIMAL(38,0)) * CAST(nx2 AS DECIMAL(38,0))"
            " * CAST(nb_total AS DECIMAL(38,0))) AS BIGINT)"
        )
        out = (
            joined.select("bigram", "nxy", score.alias("pmi_score"))
            .orderBy(F.col("pmi_score").desc(), F.col("bigram"))
            .limit(20)
        )
        # the token cache is read by the unigram, bigram and Nb branches
        return cs.result(out)


def udtf_ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The Spark 4 Python UDTF surface: `ngrams` (functions/udtfs.py,
    Arrow-batched) applied as a LATERAL table function from SQL, then
    the same top-50 bigram count as :func:`bigram_topk` — so the UDTF
    row-expansion path is verified against the identical oracle the
    expression-based operator uses. UDTFs are the sanctioned boundary
    for genuinely generative Python (custom parsers/tokenizers); hot
    paths stay in built-in expressions."""
    from fsc_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    t(spark, sf, "documents", parallel=True).createOrReplaceTempView("docs_udtf_v")
    return spark.sql(
        """
        SELECT t.ngram AS bigram, COUNT(*) AS freq
        FROM docs_udtf_v d, LATERAL ngrams(lower(d.text), 2) t
        GROUP BY t.ngram
        ORDER BY freq DESC, bigram
        LIMIT 50
        """
    )


def source_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus profile: doc count, token budget, exact
    median document length. Exact percentile is fine per GROUP (one
    source's lengths sort within a partition); corpus-wide percentiles
    at 100 TB should switch to percentile_approx."""
    docs = t(spark, sf, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens"), "n_chars"
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
    )


def embed_truncate_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style truncation accounting: how much of each
    vector's energy survives keeping only the first 16 of 64 dims —
    the measurement behind choosing a cheaper retrieval prefix. Same
    deterministic fold-then-round discipline as embed_norm_stats
    (left-to-right double fold, one rounding, no reordering), so the
    per-vector ratios are bit-identical to the SQL twin."""
    emb = t(spark, sf, "embeddings")

    def sq_sum(col):
        return F.aggregate(
            col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )

    full = sq_sum(F.col("embedding"))
    prefix = sq_sum(F.slice(F.col("embedding"), 1, 16))
    return emb.select(
        "vec_id",
        F.round(F.sqrt(full), 6).alias("l2_full"),
        F.round(F.sqrt(prefix), 6).alias("l2_16"),
        F.round(prefix / full, 6).alias("energy_ratio_16"),
    )


def embed_int8_quant_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 embedding-storage quantization accounting — the 4x
    compression every 100 TB vector store applies before anything else
    (float32 -> int8 cuts a 100 TB embedding column to 25 TB and
    quadruples scan throughput; ANN re-ranks on the dequantized
    values). Symmetric per-CORPUS scale: q = clamp(round(x/s * 127),
    -127, 127) with s = max |x| over the corpus (one scalar agg,
    broadcast back — the plan's only non-map-side step). Output per
    vector, all INTEGER-exact so the hash oracle needs no margin
    argument: the quantized checksum (sum q), energy (sum q^2),
    saturation count (|q| = 127) and zero count (q = 0, the
    small-value information loss signal).

    Determinism: s is an exact selection (max of parquet-exact
    doubles, order-free), x/s*127 is two correctly-rounded IEEE ops —
    identical doubles on both engines; F.round (HALF_UP = half away
    from zero, matching DuckDB's C-round semantics) then yields exact
    integers; every aggregate is BIGINT. Scale shape: ONE scalar
    max-reduction (tree aggregate, bytes of driver state) + a
    broadcast 1-row join + pure map-side transforms — no shuffle
    beyond the scalar agg, no Python.
    """
    emb = t(spark, sf, "embeddings")
    s = emb.agg(
        F.max(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
            )
        ).alias("__s")
    )
    # Degenerate all-zero corpus => s = 0: guard the divisor with a
    # subnormal floor so x/s is 0 (not NaN) identically on both
    # engines — Spark's non-ANSI CAST(NaN AS INT) yields 0 while
    # DuckDB raises, so the unguarded division DIVERGES (ADVICE r7).
    # On any real corpus s >= max|x| > 1e-300 and the floor is inert.
    s_safe = F.greatest(F.col("__s"), F.lit(1e-300))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.round(x.cast("double") / s_safe * 127).cast("int"),
            ),
        ),
    )
    agg = lambda col, init, fn: F.aggregate(col, init, fn)  # noqa: E731
    return (
        emb.crossJoin(F.broadcast(s))
        .withColumn("q", q)
        .select(
            "vec_id",
            agg(
                F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("q_sum"),
            agg(
                F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x * x
            ).alias("q_energy"),
            F.size(F.filter(F.col("q"), lambda x: F.abs(x) == 127)).cast(
                "bigint"
            ).alias("n_saturated"),
            F.size(F.filter(F.col("q"), lambda x: x == 0)).cast(
                "bigint"
            ).alias("n_zero"),
        )
    )


def embed_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection curve (round 10,
    operators/clustering.kcenter_greedy): 8 maximally-spread exemplar
    vectors — seed at the lowest vec_id, then 7 farthest-point picks
    under exact quantized squared-L2 with (dist DESC, id ASC)
    tie-break. Row r's sel_dist_sq is the EXACT coverage radius of the
    first r-1 centers, so the 8-row curve is both the selected diverse
    subset and its k-center quality certificate — the Sener-Savarese
    coreset selector a curation pipeline runs to pick annotation /
    eval exemplars from an embedding pool.

    Integer-exact end to end (floor(x·127) grid, int64 folds), so the
    unrolled 8-round SQL twin matches bit-for-bit — no margin
    argument needed, unlike the cosine tiers.
    """
    from fsc_etl_spark.operators.clustering import kcenter_greedy

    return kcenter_greedy(t(spark, sf, "embeddings", parallel=True), k=8)


def embed_norm_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding L2-norm profile — the sanity check every
    embedding pipeline runs before similarity search (unnormalized
    vectors break cosine pruning). The per-row norm folds the float
    array left-to-right in doubles (deterministic), is rounded once,
    then accumulates as exact decimals so the group average is
    accumulation-order-proof."""
    emb = t(spark, sf, "embeddings")
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = emb.select(
        "label", F.round(F.sqrt(sq_sum), 6).cast("decimal(18,6)").alias("l2")
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("l2").cast("double") / F.count(F.lit(1)), 6).alias("avg_l2"),
        F.round(F.min("l2").cast("double"), 6).alias("min_l2"),
        F.round(F.max("l2").cast("double"), 6).alias("max_l2"),
    )


def user_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user view→click→purchase funnel on first-occurrence
    timestamps: one aggregate pass (conditional MINs), then ordering
    flags — no self-joins, one shuffle on user_id. The standard
    conversion-analysis shape."""
    ev = t(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = (
        F.col("first_view").isNotNull()
        & F.col("first_click").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_view") < F.col("first_click"))
        & (F.col("first_click") < F.col("first_purchase"))
    )
    return agg.select(
        "user_id", "first_view", "first_click", "first_purchase",
        converted.alias("converted"),
    )


def contamination_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: which corpus documents share word
    3-gram shingles with a held-out benchmark set (``doc_id % 97 == 0``
    stands in for the eval suite). The standard pre-training hygiene
    step: any doc overlapping an eval prompt is flagged before the
    training mix is built.

    Scale shape: the benchmark side is tiny by construction (eval
    suites are KBs against a 100 TB corpus), so its distinct-gram set
    broadcasts; the corpus side streams map-side through the hash join
    and the only shuffle is the final per-doc count with partial
    aggregation. Shingling is the same materialized-token-array
    projection MinHash uses (O(L) per doc, pure codegen).
    """
    docs = t(spark, sf, "documents")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("w"))
    grams = toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("g")
    ).dropDuplicates(["doc_id", "g"])
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def doc_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition profile (the Gopher-style quality
    signals): distinct-token ratio and the most-frequent-token share.
    Highly repetitive documents (boilerplate, keyword stuffing, decode
    loops) score low on distinct_ratio / high on top_tok_frac and get
    culled before training.

    Two partial-agg shuffles (doc×token, then doc) — the scalable
    shape for unbounded document lengths; an array-expression variant
    (array_distinct + per-element filter) would be shuffle-free but
    O(L²) per document, which loses at book-length docs.
    """
    docs = t(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    per_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_tok_n"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_tok_n",
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
            F.round(F.col("top_tok_n") / F.col("n_tokens"), 4).alias("top_tok_frac"),
        )
    )


# PII patterns restricted to constructs with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): char classes + bounded repeats.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_LONGNUM_RE = r"[0-9][0-9][0-9][0-9]+"


def pii_redact_stats(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub accounting: per-document counts of email-shaped and
    long-digit-run matches plus the post-redaction length. Pure
    codegen projection (regexp_extract_all / regexp_replace) — no
    shuffle, no Python; at 100 TB this runs inside the scan stage.
    The synthetic fixture contains no PII, so counts are zero — the
    oracle still verifies the full expression pipeline end-to-end.
    """
    docs = t(spark, sf, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[PII]"),
        PII_LONGNUM_RE,
        "[PII]",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_LONGNUM_RE), 0))
        .cast("bigint")
        .alias("n_longnums"),
        F.length(redacted).cast("bigint").alias("clean_chars"),
    )


def domain_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled domain mixture (alpha = 0.5): per-source
    sampling weight proportional to sqrt(token budget), the standard
    rebalancing that keeps huge web crawls from drowning small
    high-quality sources in the training mix.

    One partial-agg shuffle to per-source totals; the normalizing
    window runs over the aggregated rows (one per source — bounded by
    domain count, not corpus size), so the unpartitioned window is
    safe at any scale.
    """
    docs = t(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    raw = F.sqrt(F.col("n_tokens").cast("double"))
    return (
        per_src.withColumn("raw", raw)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("raw") / F.sum("raw").over(Window.partitionBy()), 6).alias(
                "mix_weight"
            ),
        )
    )


_TOKEN_BUDGET = 200_000


def token_budget_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch/repeat scheduling for a fixed training-token budget:
    split a 200k-token budget evenly across sources (exact integer
    split — the first ``budget mod n`` sources in name order carry the
    remainder), then per source the number of FULL passes over its
    available tokens (``budget div avail``), the leftover partial-pass
    tokens, and the shortfall when even one pass exceeds… none here —
    the repeat factor is how many epochs of a small source the
    schedule asks for, the standard lever when a high-quality source
    is smaller than its budget share (repeats > 1 == multi-epoch).

    All BIGINT arithmetic; one partial-agg shuffle to per-source
    totals plus a bounded window over the per-source rows.
    """
    docs = t(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("avail_tokens"),
    )
    w = Window.partitionBy()
    rn = Window.orderBy("source")
    scheduled = (
        per_src.withColumn("__n", F.count(F.lit(1)).over(w))
        # bounded: one row per source
        .withColumn("__rk", F.row_number().over(rn))
        .withColumn(
            "budget_tokens",
            (
                F.expr(f"{_TOKEN_BUDGET} div __n")
                + F.when(
                    F.col("__rk") <= F.expr(f"{_TOKEN_BUDGET} % __n"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long"),
        )
        .withColumn(
            "full_epochs", F.expr("budget_tokens div avail_tokens").cast("long")
        )
        .withColumn(
            "partial_tokens", F.expr("budget_tokens % avail_tokens").cast("long")
        )
    )
    return scheduled.select(
        "source", "n_docs", "avail_tokens", "budget_tokens",
        "full_epochs", "partial_tokens",
    )


def token_simpson_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token-diversity score: the Simpson collision index
    over the token distribution, ``sum c_i(c_i-1) / (N(N-1))`` in
    parts-per-million — an integer-exact repetitiveness signal (a doc
    that repeats one token scores 1e6; all-distinct scores 0) that
    needs no logs, so no float entropy to drift on. Standard quality
    gate beside length/stopword ratios.

    Map-side explode to (doc, token) pairs, one shuffle to per-(doc,
    token) counts, one to per-doc sums — the same two-level shape as
    the repetition profiler, linear at any corpus size.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.expr("c * (c - 1)")).alias("coll"),
    )
    return per_doc.filter(F.col("n_tokens") >= 2).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.expr("(coll * 1000000) div (n_tokens * (n_tokens - 1))")
        .cast("long")
        .alias("simpson_ppm"),
    )


def length_quantile_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Length-distribution trimming: drop every token-length class
    wholly inside the bottom or top 5% of corpus mass, keep the rest.
    The thresholds use only integer arithmetic (20*cum > total etc.)
    so both engines agree exactly — no float percentile boundary to
    drift on.

    The cumulative window runs over the length HISTOGRAM (distinct
    token counts — thousands of rows at worst), not over documents, so
    the global orderBy window is bounded regardless of corpus size;
    survivors come back via a broadcast semi-join on length.
    """
    docs = t(spark, sf, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    hist = docs.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
    keep = (
        hist.select(
            "n_tokens",
            "cnt",
            F.sum("cnt").over(cum_w).alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).alias("total"),
        )
        .filter(
            (F.lit(20) * F.col("cum") > F.col("total"))
            & (F.lit(20) * (F.col("cum") - F.col("cnt")) < F.lit(19) * F.col("total"))
        )
        .select("n_tokens")
    )
    return docs.join(F.broadcast(keep), "n_tokens", "left_semi").select(
        "doc_id", "source", "n_tokens"
    )


def cluster_canonical_doc(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup survivorship: one canonical document per MinHash-LSH
    connected component, chosen by (quality desc, doc_id asc) — the
    "keep the best copy" step that follows cluster assignment in every
    dedup pipeline. Component labels come from the O(log n) large-star/
    small-star CC (same unique fixpoint as min-label, so the oracle is
    unchanged, but rounds scale with log component size instead of
    graph diameter); the per-cluster window shuffles on cluster_root
    (bounded fan-in — cluster sizes are near-dup group sizes, not
    corpus size).
    """
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    clusters = connected_components_star(docs.select("doc_id"), pairs)
    scored = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).join(clusters, "doc_id")
    rank_w = Window.partitionBy("cluster_root").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    size_w = Window.partitionBy("cluster_root")
    return (
        scored.select(
            "cluster_root",
            "doc_id",
            "quality",
            F.count(F.lit(1)).over(size_w).alias("cluster_size"),
            F.row_number().over(rank_w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-5 salient terms by tf·idf with a LINEAR idf
    ratio (tf · (N+1)/(df+1)): division and multiplication are
    correctly-rounded IEEE ops, identical across engines, whereas
    log() is not guaranteed correctly rounded in either libm — the
    linear variant keeps the score bit-identical to the oracle.

    Shape: two partial-agg shuffles (doc×term tf, then term df), the
    corpus size rides in as a 1-row broadcast, and the per-doc top-5
    is a WindowGroupLimit rank — nothing global, nothing quadratic.
    """
    docs = t(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(
                F.col("tf") * (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rn")
    )


def containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment |A∩B|/|A| for MinHash-LSH candidate
    pairs — the doc-in-doc signal (quotes, boilerplate wrappers) that
    symmetric Jaccard misses: a small doc fully embedded in a big one
    scores near 1.0 here but low on Jaccard.

    Stays pair-scoped: candidates come from the banded LSH join (never
    all-pairs), the exact intersection is a token equi-join restricted
    to candidate docs, sizes broadcast back per side.
    """
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(docs, k=8, shingle_n=3)
    cand = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).dropDuplicates(["doc_id", "tok"])
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("tok").alias("tok_a"))
    tb = toks.select(F.col("doc_id").alias("tb_id"), F.col("tok").alias("tok_b"))
    inter = (
        cand.join(ta, "id_a")
        .join(tb, (F.col("id_b") == F.col("tb_id")) & (F.col("tok_a") == F.col("tok_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment_a"),
            F.round(F.col("inter") / F.col("sz_b"), 6).alias("containment_b"),
        )
    )


def embed_quantize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 quantization accounting per embedding: symmetric-range
    scale (max|x|/127), the quantized checksum (sum of round(x/scale)),
    and the max reconstruction error — the bookkeeping a vector-store
    compaction job emits so quantized shards can be audited without
    the float originals. All element-wise array ops in codegen
    (transform/aggregate folds, left-to-right, deterministic);
    division and HALF_UP rounding are IEEE-identical in both engines,
    so even the checksum is oracle-exact."""
    emb = t(spark, sf, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).alias("scale")
    with_scale = emb.select("vec_id", "label", xd.alias("v"), scale)
    q = F.transform(F.col("v"), lambda x: F.round(x / F.col("scale"), 0).cast("long"))
    with_q = with_scale.withColumn("q", q)
    recon_err = F.array_max(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale")),
        )
    )
    return with_q.select(
        "vec_id",
        "label",
        F.round(F.col("scale") * 1e6, 3).alias("scale_ppm"),
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "q_checksum"
        ),
        F.round(recon_err * 1e6, 3).alias("max_err_ppm"),
    )


def salted_source_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe per-source corpus rollup via two-phase salted
    aggregation (operators/skew.py): the documents table has only 5
    source values — exactly the hot-key regime where a plain groupBy
    funnels each source through ONE reducer. The salt fans each source
    over 16 reducers for the heavy partial phase; the tiny final phase
    re-aggregates partials. The oracle is the plain GROUP BY —
    result-identical is the whole point (exact-decimal/integer
    partials re-aggregate losslessly)."""
    from fsc_etl_spark.operators.skew import salted_aggregate

    docs = t(spark, sf, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens"), "n_chars"
    )
    return salted_aggregate(
        docs,
        keys=["source"],
        partial_aggs=[
            F.count(F.lit(1)).alias("c"),
            F.sum("n_tokens").alias("st"),
            F.max("n_chars").alias("mc"),
        ],
        final_aggs=[
            F.sum("c").cast("bigint").alias("n_docs"),
            F.sum("st").cast("bigint").alias("sum_tokens"),
            F.max("mc").cast("bigint").alias("max_chars"),
        ],
        buckets=16,
    )


def synth_docs_source(spark: SparkSession, sf: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API): the partitioned
    synthetic-corpus generator (sources/pydatasource.py). Content is
    md5-of-id, so the DuckDB oracle regenerates the identical corpus
    from range()+md5 and the driver verifies full text equality —
    proving the source's partitioned generation is deterministic and
    engine-reproducible. ``sf`` is unused: the source generates."""
    from fsc_etl_spark.sources.pydatasource import register

    register(spark)
    return (
        spark.read.format("fsc_synth_docs")
        .option("n", "2000")
        .option("partitions", "8")
        .load()
    )


def segment_hashes(docs: DataFrame, seg_tokens: int = 16) -> DataFrame:
    """(doc_id, seg_idx, seg_hash): fixed token windows hashed with
    md5 — the map-side stage shared by batch and streaming segment
    dedup."""
    toks = tokens(F.col("text"))
    n_seg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    # Token-less docs form no segment (mirrors the oracle's empty
    # range); without the filter, sequence(0, -1) would DESCEND and
    # emit two garbage segments per empty doc.
    return docs.filter(F.size(toks) > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "seg_idx",
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("seg_idx") * seg_tokens + 1, seg_tokens), " "
            )
        ).alias("seg_hash"),
    )


def winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every 3-gram, slide a
    window of w=4 consecutive hashes, and in each window select the
    MINIMUM hash (ties -> RIGHTMOST position); the distinct selected
    positions are the document's fingerprint. Guarantees every shared
    substring of >= w+k-1 tokens shares a fingerprint between
    documents while storing ~2/(w+1) of the hashes — the
    local-sampling property ad-hoc "every i-th hash" schemes lack.
    Output per doc: gram count, fingerprint count, the exact BIGINT
    fingerprint-hash sum (pins the selected SET, not just its size)
    and density in ppm. Docs shorter than one window keep their
    global min — the truncated-frame convention.

    Exactness: hashes are 48-bit ints (first 12 md5 hex chars), so
    per-doc sums stay far under int64; min / argmax-position /
    count are total-order integer decisions. Scale shape: gram
    hashing is map-side; the sliding min and the rightmost-tie pick
    are frame windows over ONE doc-keyed shuffle shared by every
    aggregation; nothing global, nothing pairwise."""
    w = 4
    docs = t(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    grams = toks.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("tk"), 3)).alias("pos0", "sh"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5(F.col("sh")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    wd = Window.partitionBy("doc_id")
    frame = wd.orderBy("pos").rowsBetween(0, w - 1)
    # Rightmost position attaining THIS anchor's window minimum, in ONE
    # anchor-frame aggregate: lexicographic max of (2^48 - h, pos) over
    # the frame is the frame row with the LOWEST hash, ties broken by
    # the LARGEST (rightmost) position. A single frame expression keeps
    # every compared value evaluated against the anchor's own frame —
    # the r6 form compared each frame row's h to that row's OWN win_min
    # (a different frame), decoupling position from hash and inflating
    # the fingerprint set (13 vs 9 on doc 0 of the sf0.001 fixture).
    max48 = 1 << 48  # hashes are 48-bit, so 2^48 - h stays positive
    scored = grams.withColumn("n_grams", F.count(F.lit(1)).over(wd)).withColumn(
        "sel",
        F.max(
            F.struct(
                (F.lit(max48) - F.col("h")).alias("nh"),
                F.col("pos").alias("p"),
            )
        ).over(frame),
    )
    chosen = scored.filter(
        F.col("pos") <= F.greatest(F.col("n_grams") - (w - 1), F.lit(1))
    ).select(
        "doc_id",
        "n_grams",
        F.col("sel.p").alias("sel_pos"),
        (F.lit(max48) - F.col("sel.nh")).alias("fp_hash"),
    )
    fps = chosen.distinct()
    return fps.groupBy("doc_id").agg(
        F.min("n_grams").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        F.sum("fp_hash").cast("bigint").alias("fp_sum"),
        F.expr("(1000000 * count(1)) div min(n_grams)").alias("density_ppm"),
    )


def dup_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal duplicated-SPAN extraction (the reporting half of exact
    substring dedup, Lee et al. 2022 arXiv:2107.06499 "Deduplicating
    Training Data Makes Language Models Better"): a 16-token window is
    duplicated when its hash occurs >= 2 times corpus-wide; per
    document, CONSECUTIVE duplicated windows merge into maximal spans
    (the islands trick: seg_idx - row_number is constant within a
    run). Output per doc with >= 1 segment: total/duplicated segment
    counts, span count, longest span, and the integer-ppm duplicated
    fraction — the signal that decides between dropping a document
    and cutting just its duplicated spans.

    Scale shape at 100 TB: map-side window explode; ONE shuffle keyed
    on seg_hash for the corpus occurrence counts (bounded per-hash
    groups, partial-agg collapses map-side); the flag join back is on
    the same key (colocated); the islands window + both per-doc
    aggregations share ONE doc-keyed shuffle. No pairwise anything,
    no global sort."""
    docs = t(spark, sf, "documents", parallel=True).select("doc_id", "text")
    segs = segment_hashes(docs)
    cnt = segs.groupBy("seg_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    flagged = segs.join(cnt, "seg_hash").select(
        "doc_id", "seg_idx", (F.col("n_occ") >= 2).alias("dup")
    )
    w = Window.partitionBy("doc_id").orderBy("seg_idx")
    spans = (
        flagged.filter(F.col("dup"))
        .withColumn("grp", F.col("seg_idx") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("span_len"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.max("span_len").cast("bigint").alias("max_span_segments"),
        )
    )
    base = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.col("dup").cast("bigint")).cast("bigint").alias("n_dup_segments"),
    )
    return base.join(spans, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        "n_dup_segments",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("max_span_segments"), F.lit(0))
        .cast("bigint")
        .alias("max_span_segments"),
        F.expr("(1000000 * n_dup_segments) div n_segments").alias("dup_ppm"),
    )


def dup_span_trim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The ACTING half of exact substring dedup (Lee et al. 2022 —
    dup_span_stats is the reporting half): cut every duplicated
    segment except its corpus-wide FIRST occurrence (keep-first by
    (doc_id, seg_idx), the same survivorship segment_dedup_mask uses)
    and account the per-document token effect — kept vs removed
    tokens and the integer-ppm trim fraction that decides whether the
    document survives trimming or gets dropped outright. The final
    segment's true token length (n_tokens − 16·seg_idx, capped at 16)
    is accounted exactly, so kept_tokens + removed_tokens == n_tokens.

    Scale shape: ONE seg_hash-keyed window (bounded per-hash groups —
    the same key the reporting half shuffles on) + one doc-keyed
    aggregation; all-integer."""
    docs = t(spark, sf, "documents").select("doc_id", "text")
    segs = segment_hashes(docs)
    w = Window.partitionBy("seg_hash").orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("keep", F.row_number().over(w) == 1)
    ntk = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    sized = kept.join(ntk, "doc_id").withColumn(
        "seg_tokens",
        F.least(F.lit(16).cast("bigint"), F.col("n_tokens") - F.col("seg_idx") * 16),
    )
    return sized.groupBy("doc_id").agg(
        F.min("n_tokens").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed_segments"),
        F.sum(F.when(F.col("keep"), F.col("seg_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.expr(
            "(1000000 * sum(case when keep then 0 else seg_tokens end))"
            " div min(n_tokens)"
        ).alias("trim_ppm"),
    )


def segment_dedup_mask(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document (segment-level) dedup with keep-first survivorship
    — the FineWeb/RefinedWeb-style pass that strips boilerplate
    repeated ACROSS documents while keeping each segment's first
    occurrence. Documents split into fixed 16-token windows (the
    fixture has no paragraph marks; the op is the same for any
    segmenter); identical segments dedup globally by md5 with the
    corpus-stable tie-break (doc_id, seg_idx).

    Plan shape at 100 TB: explode to segments (map-side), ONE shuffle
    on segment hash for the keep-first window (per-hash groups are
    duplicate counts — bounded), then a per-doc re-aggregation. No
    joins against the corpus, no global ordering.
    """
    docs = t(spark, sf, "documents").select("doc_id", "text")
    segs = segment_hashes(docs)
    w = Window.partitionBy("seg_hash").orderBy("doc_id", "seg_idx")
    kept = segs.select(
        "doc_id",
        "seg_idx",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        )
        .select("doc_id", "n_segments", "n_kept")
    )


def eval_contamination_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark DEcontamination at the REALISTIC window size — the
    GPT-3/FineWeb 8-13-token overlap rule. Complements
    :func:`contamination_overlap` (the aggressive 3-gram shingle
    screen, hits-only output): 3-grams flag half the corpus on shared
    idioms, 8-grams fire only on genuine eval-prompt leakage, and this
    variant emits EVERY corpus doc with its n-gram denominator, the
    distinct-hit count and the boolean filter flag — the row shape a
    curation mix actually joins against. The fixture has no separate
    benchmark table, so the eval suite is the deterministic
    ``doc_id % 29 == 0`` slice and the corpus is everything else.

    Plan shape at 100 TB: the eval side is a fixed benchmark suite —
    tiny relative to the corpus — so its distinct n-gram hash set
    BROADCASTS; corpus n-grams are a map-side explode, the hit count
    is one shuffle keyed on doc_id (countDistinct partial-aggregates
    map-side), and the flag join back to the doc list is keyed on
    doc_id. Nothing compares documents pairwise and the eval set is
    never joined unbucketed against raw text. All-integer output —
    no float accumulation anywhere."""
    n = 8
    docs = t(spark, sf, "documents", parallel=True).select("doc_id", "text")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    grams = toks.filter(F.size("tk") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {n - 1}),"
                f" i -> md5(array_join(slice(tk, i, {n}), ' ')))"
            )
        ).alias("g"),
    )
    eval_g = grams.filter(F.col("doc_id") % 29 == 0).select("g").distinct()
    hits = (
        grams.filter(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_contaminated"))
    )
    base = toks.filter(F.col("doc_id") % 29 != 0).select(
        "doc_id",
        F.greatest(F.size("tk") - F.lit(n - 1), F.lit(0)).cast("bigint").alias("n_ngrams"),
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_ngrams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias("n_contaminated"),
        (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("contaminated"),
    )


def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source n-gram overlap matrix — the mixture-building
    diagnostic that says which corpus sources substantially duplicate
    each other (e.g. two web snapshots of the same crawl) BEFORE
    document-level dedup ever runs: for every source pair, the count
    of shared distinct 3-gram fingerprints plus exact integer-ppm
    Jaccard and both containments. All-integer output.

    Scale shape at 100 TB: one distinct on (source, gram-md5) —
    map-side explode + one shuffle; the self-join is keyed on the
    GRAM, and its fan-out per gram is bounded by the number of
    SOURCES squared (a fixed small dimension), never by corpus size;
    the pair aggregate is |sources|^2 rows and the per-source gram
    counts broadcast back onto it. Nothing compares documents, and no
    stage's cardinality grows faster than the distinct-gram count."""
    docs = t(spark, sf, "documents").select("source", "text")
    toks = docs.select("source", tokens(F.lower(F.col("text"))).alias("tk"))
    sg = (
        toks.select(
            "source",
            F.explode(shingles_from_tokens(F.col("tk"), 3)).alias("sh"),
        )
        .select("source", F.md5(F.col("sh")).alias("g"))
        .distinct()
    )
    per_src = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("source").alias("source_a"), "g")
    b = sg.select(F.col("source").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    ga = per_src.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    gb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        pairs.join(F.broadcast(ga), "source_a")
        .join(F.broadcast(gb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.col("grams_a").cast("bigint").alias("grams_a"),
            F.col("grams_b").cast("bigint").alias("grams_b"),
            F.expr(
                "(1000000 * shared_grams) div (grams_a + grams_b - shared_grams)"
            ).alias("jaccard_ppm"),
            F.expr("(1000000 * shared_grams) div grams_a").alias("contain_a_ppm"),
            F.expr("(1000000 * shared_grams) div grams_b").alias("contain_b_ppm"),
        )
    )


#: DSIR feature-space size. 64 hash buckets keeps the score table a
#: broadcastable literal-sized dim at ANY corpus scale (the paper uses
#: 10k buckets for web scale — the shape is identical, only this
#: constant changes) and keeps every bucket well-populated at sf0.001
#: so the floor-distance audit has real mass behind each score.
DSIR_BUCKETS = 64


def dsir_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    importance weights from hashed n-gram features. Target
    distribution = the ``lang = 'en'`` slice ("select raw docs that
    look like the curated English corpus"); raw = the whole corpus.
    Features are unigram + bigram instances hashed into
    ``DSIR_BUCKETS`` buckets (the repo's first-4-hex md5 bucket); each
    bucket carries a Laplace-smoothed log ratio
    ``ln(p_target(b) / p_raw(b))`` and a document's importance weight
    is the sum of its n-gram instances' bucket scores.

    Exactness (the :func:`bigram_lm_quality` integer-scaling idiom):
    each bucket score is quantized ONCE to micro-nats —
    ``floor(1e6 * ln((t_b+1)(R+B) / ((r_b+1)(T+B))))`` — so the
    per-doc accumulation is exact BIGINT arithmetic with no float-sum
    order sensitivity; the only cross-engine float hazard is the
    single ln per bucket, whose distance from a floor boundary is
    measured across SFs by tests/test_round2_curation.py (min ~1e-2
    micro-nats, vs ~1e-3 micro-nat worst-case ulp noise — the ratio
    argument itself is bit-identical both engines: same exact-integer
    operands, same op order). kept = (score >= 0) is then an exact
    integer decision.

    Scale shape at 100 TB: n-gram explode is map-side; bucket counts
    are a B-row aggregate (map-side partial combine collapses each
    task to <= B rows, so the shuffle is B x tasks rows — trivial);
    the totals and score table stay B rows and BROADCAST; the per-doc
    sum is ONE shuffle keyed on doc_id; the final flag join back to
    the doc list is doc-keyed. Nothing pairwise, no global sort, no
    driver-side state beyond the B-row literal."""
    docs = t(spark, sf, "documents", parallel=True).select("doc_id", "lang", "text")
    scores = dsir_bucket_scores(docs)
    return dsir_score_docs(dsir_gram_buckets(docs), scores, docs)


def dsir_gram_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per unigram/bigram INSTANCE,
    hashed to DSIR_BUCKETS. Stateless map-side work (explode over
    per-row arrays), so it applies unchanged to a document STREAM."""
    B = DSIR_BUCKETS
    toks = docs.select("doc_id", "lang", tokens(F.lower(F.col("text"))).alias("tk"))
    # unigram + bigram instances (bigrams guarded empty for 1-token docs)
    return toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("tk"),
                F.zip_with(
                    F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                    F.slice(F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5(F.col("g")), 1, 4), 16, 10).cast("long") % B).alias(
            "bucket"
        ),
    )


def dsir_bucket_scores(docs: DataFrame) -> DataFrame:
    """The frozen reference distributions: (bucket, score_e6) with
    score quantized ONCE to micro-nats (see dsir_importance_weights's
    exactness note). B rows — broadcasts at any corpus scale."""
    B = DSIR_BUCKETS
    counts = dsir_gram_buckets(docs).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("r_b"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t_b"),
    )
    totals = counts.agg(
        F.sum("r_b").cast("double").alias("r_tot"),
        F.sum("t_b").cast("double").alias("t_tot"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            F.lit(1e6)
            * F.log(
                ((F.col("t_b") + 1).cast("double") * (F.col("r_tot") + F.lit(float(B))))
                / ((F.col("r_b") + 1).cast("double") * (F.col("t_tot") + F.lit(float(B))))
            )
        )
        .cast("long")
        .alias("score_e6"),
    )


def dsir_per_doc_scores(grams: DataFrame, scores: DataFrame) -> DataFrame:
    """(doc_id, n_grams, dsir_score_e6) from a gram-bucket stream and
    the broadcast score table — exact BIGINT accumulation; works on
    batch AND streaming gram frames (one doc-keyed aggregation)."""
    return (
        grams.join(F.broadcast(scores), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("score_e6").cast("bigint").alias("dsir_score_e6"),
        )
    )


def dsir_score_docs(
    grams: DataFrame, scores: DataFrame, docs: DataFrame
) -> DataFrame:
    """Final DSIR row shape: every doc (zero-gram docs included via
    the left join) with its exact integer score and the kept flag."""
    per_doc = dsir_per_doc_scores(grams, scores)
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("dsir_score_e6"), F.lit(0))
            .cast("bigint")
            .alias("dsir_score_e6"),
            (F.coalesce(F.col("dsir_score_e6"), F.lit(0)) >= 0).alias("kept"),
        )
    )


def repetition_ngram_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition gate: the fraction of a
    document's sliding 3-gram INSTANCES that are repeats of an earlier
    3-gram in the same document (``(n - n_distinct) / n``), reported in
    exact integer ppm with the >= 20% filter flag — Gopher's
    "duplicate n-gram fraction" rule. Distinct from the other two
    repetition signals in the suite: :func:`doc_repetition_stats`
    measures TOKEN-level concentration (distinct ratio, top-token
    share — blind to looped phrases built from diverse tokens) and
    :func:`token_simpson_quality` the token collision index; this one
    fires exactly on repeated PHRASES, the boilerplate/templating
    failure mode, without leaving the row (no cross-document state,
    unlike segment dedup).

    Scale shape: ZERO shuffles — the n-gram array, its distinct size
    and the ppm ratio are all per-row higher-order expressions, so the
    whole query is map-side work over the documents scan; per-row
    memory is O(doc length), fine through book-length docs (a 100k-
    token doc is ~single-digit MB of gram strings per task). The
    division happens once per doc on integers (floor semantics both
    engines)."""
    n = 3
    docs = t(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    # CASE guard: sequence(1, 0) DESCENDS in Spark (the segment_hashes
    # hazard) — short docs must yield an EMPTY gram array, not [1, 0].
    grams = F.expr(
        f"CASE WHEN size(tk) >= {n} THEN"
        f" transform(sequence(1, size(tk) - {n - 1}),"
        f" i -> array_join(slice(tk, i, {n}), ' '))"
        f" ELSE array() END"
    )
    out = toks.select(
        "doc_id",
        F.size(grams).cast("bigint").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
    )
    # pure-integer ppm (floor division) — no float arithmetic anywhere
    rep = F.when(
        F.col("n_grams") > 0,
        F.expr("(1000000 * (n_grams - n_distinct)) div n_grams"),
    ).otherwise(F.lit(0).cast("bigint"))
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        rep.alias("rep_ppm"),
        (rep >= 200_000).alias("repetitive"),
    )


def bigram_lm_quality(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained bigram
    model: each document scores the mean conditional probability of
    its bigrams, P(w2|w1) = count(w1 w2)/count(w1 ·) estimated from
    the whole corpus. High-scoring docs read like the corpus; garbage
    scores low — the filter-by-LM pass of a curation pipeline.

    Exactness: probabilities are integer-scaled per bigram —
    floor(1e9 · c_bigram / c_prefix) — so every per-doc accumulation
    is exact bigint arithmetic with no float-sum order sensitivity;
    the single final division happens once per doc. Counts tables are
    vocab-bounded aggregates; the per-doc join shuffles on bigram —
    two partial-agg shuffles + one keyed join, nothing quadratic.
    """
    docs = t(spark, sf, "documents", parallel=True).select("doc_id", "text")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice(F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bg"),
    )
    bg_cnt = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    # prefix counts = bigram INSTANCES by first token (not unigram
    # occurrences: the last token of a doc starts no bigram)
    pre_cnt = (
        big.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_pre"))
    )
    scaled = (
        big.join(bg_cnt, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(pre_cnt, "w1")
        .select(
            "doc_id",
            F.expr("(c_bg * 1000000000L) div c_pre").alias("p_scaled"),
        )
    )
    return scaled.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(p_scaled) div count(1)").alias("mean_p_e9"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "dedup_exact_groups": dedup_exact_groups,
    "minhash_signature": minhash_signature,
    "lsh_near_dup_candidates": lsh_near_dup_candidates,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "simhash_signature": simhash_signature,
    "simhash_neardup_pairs": simhash_neardup,
    "dedup_cluster_assign": dedup_cluster_assign,
    "dedup_cluster_assign_star": dedup_cluster_assign_star,
    "text_bpe_tokens": text_bpe_tokens,
    "dedup_embed_neardup": dedup_embed_neardup,
    "embed_semdedup_prune": embed_semdedup_prune,
    "embed_knn_label_audit": embed_knn_label_audit,
    "embed_semdedup_trained": embed_semdedup_trained,
    "embed_knn_audit_trained": embed_knn_audit_trained,
    "embed_cosine_topk": embed_cosine_topk,
    "embed_ann_recall_matrix": embed_ann_recall_matrix,
    "ivf_nprobe_recall_curve": ivf_nprobe_recall_curve,
    "ivf_cell_balance": ivf_cell_balance,
    "embed_mmr_select": embed_mmr_select,
    "embed_cosine_topk_pandas": embed_cosine_topk_pandas,
    "user_trend_slope": user_trend_slope,
    "user_trend_slope_pandas": user_trend_slope_pandas,
    "embed_nn_within_label": embed_nn_within_label,
    "embed_hard_negatives": embed_hard_negatives,
    "bpe_pair_counts": bpe_pair_counts,
    "lang_pred_quality": lang_pred_quality,
    "dup_span_trim_stats": dup_span_trim_stats,
    "embed_lsh_topk": embed_lsh_topk,
    "embed_ivf_topk": embed_ivf_topk,
    "embed_pq_topk": embed_pq_topk,
    "embed_ivf_pinned_topk": embed_ivf_pinned_topk,
    "embed_pq_pinned_topk": embed_pq_pinned_topk,
    "eval_contamination_flags": eval_contamination_flags,
    "source_overlap_matrix": source_overlap_matrix,
    "dsir_importance_weights": dsir_importance_weights,
    "repetition_ngram_quality": repetition_ngram_quality,
    "training_mix_manifest": training_mix_manifest,
    "chunk_overlap_docs": chunk_overlap_docs,
    "padding_waste_stats": padding_waste_stats,
    "multimodal_features": multimodal_features,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_resize": multimodal_resize,
    "multimodal_resize_codec": multimodal_resize_codec,
    "multimodal_frame_decode": multimodal_frame_decode,
    "audio_clip_stats": audio_clip_stats,
    "audio_downsample_stats": audio_downsample_stats,
    "vocab_coverage_stats": vocab_coverage_stats,
    "udtf_ngram_topk": udtf_ngram_topk,
    "orc_roundtrip_stats": orc_roundtrip_stats,
    "binary_file_ingest": binary_file_ingest,
    "kmeans_cluster_stats": kmeans_cluster_stats,
    "corpus_curation": corpus_curation,
    "hash_stratified_sample": hash_stratified_sample,
    "pps_token_sample": pps_token_sample,
    "weighted_priority_sample": weighted_priority_sample,
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "maxsim_late_interaction": maxsim_late_interaction,
    "weak_label_agreement": weak_label_agreement,
    "token_vocab_topk": token_vocab_topk,
    "mixture_resample_to_min": mixture_resample_to_min,
    "embed_dim_median_stats": embed_dim_median_stats,
    "inverted_index_stats": inverted_index_stats,
    "pmi_top_bigrams": pmi_top_bigrams,
    "mixture_temperature_sample": mixture_temperature_sample,
    "pack_chunks_by_source": pack_chunks_by_source,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    "hash_split_counts": hash_split_counts,
    "bigram_topk": bigram_topk,
    "source_doc_stats": source_doc_stats,
    "embed_norm_stats": embed_norm_stats,
    "embed_truncate_norms": embed_truncate_norms,
    "embed_int8_quant_stats": embed_int8_quant_stats,
    "embed_kcenter_coreset": embed_kcenter_coreset,
    "user_funnel": user_funnel,
    "contamination_overlap": contamination_overlap,
    "doc_repetition_stats": doc_repetition_stats,
    "pii_redact_stats": pii_redact_stats,
    "domain_mix_weights": domain_mix_weights,
    "token_budget_schedule": token_budget_schedule,
    "token_simpson_quality": token_simpson_quality,
    "length_quantile_filter": length_quantile_filter,
    "cluster_canonical_doc": cluster_canonical_doc,
    "cluster_soft_dedup_sample": cluster_soft_dedup_sample,
    "cluster_leakage_split": cluster_leakage_split,
    "dup_span_stats": dup_span_stats,
    "winnow_fingerprints": winnow_fingerprints,
    "tfidf_top_terms": tfidf_top_terms,
    "containment_pairs": containment_pairs,
    "synth_docs_source": synth_docs_source,
    "embed_quantize_stats": embed_quantize_stats,
    "salted_source_stats": salted_source_stats,
    "segment_dedup_mask": segment_dedup_mask,
    "bigram_lm_quality": bigram_lm_quality,
}
