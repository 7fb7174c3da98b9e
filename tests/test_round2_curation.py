"""Invariant tests for the round-2 corpus-curation queries
(contamination, repetition, PII scrub, mixture weights, length
trimming, cluster survivorship) beyond the oracle parity that
test_entry_contract.py already enforces."""

from __future__ import annotations

from pyspark.sql import functions as F

from fsc_etl_spark.plans.training_data import QUERIES
from fsc_etl_spark.sources.readers import read_parquet_table
from fsc_etl_spark.testing import check_query


def test_contamination_excludes_benchmark_docs(spark, sf_smoke):
    out = QUERIES["contamination_overlap"](spark, sf_smoke)
    assert out.filter(F.col("doc_id") % 97 == 0).count() == 0
    assert out.filter(F.col("n_hit_grams") < 1).count() == 0


def test_repetition_stats_bounds(spark, sf_smoke):
    out = QUERIES["doc_repetition_stats"](spark, sf_smoke)
    bad = out.filter(
        (F.col("n_distinct") > F.col("n_tokens"))
        | (F.col("top_tok_n") > F.col("n_tokens"))
        | (F.col("distinct_ratio") <= 0)
        | (F.col("distinct_ratio") > 1)
        | (F.col("top_tok_frac") <= 0)
        | (F.col("top_tok_frac") > 1)
    )
    assert bad.count() == 0


def test_pii_scrub_is_identity_on_clean_fixture(spark, sf_smoke):
    """The synthetic corpus contains no PII, so redaction must be a
    no-op: zero matches and unchanged lengths."""
    out = QUERIES["pii_redact_stats"](spark, sf_smoke)
    docs = read_parquet_table(spark, sf_smoke, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("orig_chars")
    )
    changed = (
        out.join(docs, "doc_id")
        .filter(
            (F.col("n_emails") != 0)
            | (F.col("n_longnums") != 0)
            | (F.col("clean_chars") != F.col("orig_chars"))
        )
        .count()
    )
    assert changed == 0


def test_mix_weights_normalized(spark, sf_smoke):
    rows = QUERIES["domain_mix_weights"](spark, sf_smoke).collect()
    assert all(r.mix_weight > 0 for r in rows)
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4


def test_length_filter_keeps_contiguous_middle(spark, sf_smoke):
    """Kept token-length classes must be a contiguous middle slice of
    the length distribution covering >= 80% of documents."""
    docs = read_parquet_table(spark, sf_smoke, "documents")
    out = QUERIES["length_quantile_filter"](spark, sf_smoke)
    total = docs.count()
    kept = out.count()
    assert 0.8 * total <= kept <= total
    all_lengths = sorted(
        r.n_tokens
        for r in QUERIES["text_token_stats"](spark, sf_smoke)
        .select("n_tokens")
        .distinct()
        .collect()
    )
    kept_lengths = sorted(r.n_tokens for r in out.select("n_tokens").distinct().collect())
    lo = all_lengths.index(kept_lengths[0])
    assert all_lengths[lo : lo + len(kept_lengths)] == kept_lengths


def test_canonical_doc_one_per_cluster(spark, sf_smoke):
    out = QUERIES["cluster_canonical_doc"](spark, sf_smoke)
    clusters = QUERIES["dedup_cluster_assign"](spark, sf_smoke)
    n_roots = clusters.select("cluster_root").distinct().count()
    assert out.count() == n_roots
    assert out.select("cluster_root").distinct().count() == n_roots
    # cluster sizes partition the corpus
    total_docs = clusters.count()
    assert out.agg(F.sum("cluster_size")).collect()[0][0] == total_docs


def test_round2_queries_oracle_parity_smoke(spark, sf_smoke):
    for name in (
        "contamination_overlap",
        "doc_repetition_stats",
        "domain_mix_weights",
        "length_quantile_filter",
    ):
        check_query(spark, sf_smoke, name)


# --- round-6 additions to the curation family ---


def test_eval_contamination_flags_invariants(spark, sf_smoke):
    """8-gram decontamination: covers EVERY non-eval doc exactly once,
    distinct-hit counts bounded by the doc's own gram count, flag
    consistent with the count, eval slice excluded."""
    out = QUERIES["eval_contamination_flags"](spark, sf_smoke).collect()
    docs = read_parquet_table(spark, sf_smoke, "documents")
    n_corpus = docs.filter(F.col("doc_id") % 29 != 0).count()
    assert len(out) == n_corpus
    for r in out:
        assert r.doc_id % 29 != 0
        assert 0 <= r.n_contaminated <= max(r.n_ngrams, 0)
        assert r.contaminated == (r.n_contaminated > 0)
    # the fixture plants near-dup docs, so genuine 8-gram leakage
    # exists — an all-clean result would mean a broken join
    assert any(r.contaminated for r in out)


def test_repetition_ngram_quality_invariants(spark, sf_smoke):
    """Duplicate-3-gram fraction: exact integer ppm recomputable from
    the emitted counts, distinct bounded by total, short docs (< 3
    tokens) emit zero grams instead of Spark's descending-sequence
    garbage."""
    out = QUERIES["repetition_ngram_quality"](spark, sf_smoke).collect()
    docs = read_parquet_table(spark, sf_smoke, "documents")
    assert len(out) == docs.count()
    for r in out:
        assert 0 <= r.n_distinct <= r.n_grams
        expect = (1_000_000 * (r.n_grams - r.n_distinct)) // r.n_grams if r.n_grams else 0
        assert r.rep_ppm == expect
        assert r.repetitive == (r.rep_ppm >= 200_000)


def test_training_mix_manifest_agrees_with_standalone_gates(spark, sf_smoke):
    """The composed manifest must reproduce the standalone gates'
    totals exactly — a composition bug (wrong join, flag precedence,
    eval-slice drift) shows up as a count mismatch here even if the
    oracle hash also catches it."""
    man = {r.lang: r for r in QUERIES["training_mix_manifest"](spark, sf_smoke).collect()}
    docs = read_parquet_table(spark, sf_smoke, "documents")
    corpus = docs.filter(F.col("doc_id") % 29 != 0)
    assert sum(r.n_docs for r in man.values()) == corpus.count()

    contam = QUERIES["eval_contamination_flags"](spark, sf_smoke)
    assert sum(r.n_contaminated for r in man.values()) == contam.filter(
        F.col("contaminated")
    ).count()

    rep = QUERIES["repetition_ngram_quality"](spark, sf_smoke)
    rep_corpus = rep.join(corpus.select("doc_id"), "doc_id", "left_semi")
    assert sum(r.n_repetitive for r in man.values()) == rep_corpus.filter(
        F.col("repetitive")
    ).count()

    for r in man.values():
        assert r.n_kept + r.n_dupes <= r.n_docs
        assert (r.tokens_kept == 0) == (r.n_kept == 0) or r.tokens_kept >= 0


def test_dsir_floor_distance_margins():
    """The ONE float op in dsir_importance_weights is the per-bucket
    ln(); its floor(1e6 * ln) quantization flips between engines only
    if the raw micro-nat value sits within ulp noise (~1e-3 micro-nats
    for a |score| <= ~3e6 value at 1e-16 relative) of an integer
    boundary. Measure the true min boundary distance over every bucket
    at every SF with an independent numpy reimplementation and require
    3 orders of headroom. Also sanity: target-heavy buckets must skew
    positive for 'en' docs (the selection signal is real)."""
    import duckdb
    import numpy as np

    from fsc_etl_spark.plans.training_data import DSIR_BUCKETS

    B = DSIR_BUCKETS
    worst = np.inf
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        con = duckdb.connect()
        rows = con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 x -> x <> '') AS tk
              FROM '/root/testdata/{sf}/documents.parquet'
            ),
            grams AS (
              SELECT lang,
                     CAST(('0x' || substr(md5(g), 1, 4)) AS BIGINT) % {B} AS bucket
              FROM (
                SELECT lang, unnest(list_concat(
                  tk, list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                )) AS g
                FROM toks
              )
            )
            SELECT bucket, COUNT(*) AS r_b,
                   COUNT(*) FILTER (WHERE lang = 'en') AS t_b
            FROM grams GROUP BY bucket
            """
        ).fetchall()
        con.close()
        r = np.array([x[1] for x in rows], dtype=np.float64)
        tgt = np.array([x[2] for x in rows], dtype=np.float64)
        raw = 1e6 * np.log((tgt + 1) * (r.sum() + B) / ((r + 1) * (tgt.sum() + B)))
        dist = np.abs(raw - np.round(raw))
        worst = min(worst, dist.min())
        assert dist.min() > 1e-3, f"{sf}: floor boundary distance {dist.min():.3e}"
    assert worst > 1e-3


def test_dsir_weights_separate_target_lang(spark, sf_smoke):
    """DSIR must actually SELECT: the mean importance score of 'en'
    (target) docs must exceed every other language's mean, and scores
    must be exact integers summing per-doc gram counts' bucket scores
    (n_grams = 2*len(tk) - 1 for multi-token docs)."""
    out = QUERIES["dsir_importance_weights"](spark, sf_smoke).collect()
    by_lang: dict[str, list[int]] = {}
    for row in out:
        by_lang.setdefault(row.lang, []).append(row.dsir_score_e6)
    means = {lg: sum(v) / len(v) for lg, v in by_lang.items()}
    assert means["en"] == max(means.values())
    for lg, m in means.items():
        if lg != "en":
            assert means["en"] > m
    docs = read_parquet_table(spark, sf_smoke, "documents").select(
        "doc_id", F.size(F.filter(F.split(F.trim(F.lower("text")), r"\s+"),
                                  lambda x: x != "")).alias("n_tok")
    ).collect()
    n_tok = {r.doc_id: r.n_tok for r in docs}
    for row in out:
        expect = max(2 * n_tok[row.doc_id] - 1, 0) if n_tok[row.doc_id] else 0
        assert row.n_grams == expect


def test_knn_label_audit_invariants(spark, sf_smoke):
    """kNN label audit: neighbor counts bounded by k and cell size,
    agreement bounded by neighbor count, knn_label present exactly
    when a neighbor exists, and consistent == (knn_label = label)."""
    rows = QUERIES["embed_knn_label_audit"](spark, sf_smoke).collect()
    cell_sizes: dict[int, int] = {}
    for r in rows:
        cell_sizes[r.cell] = cell_sizes.get(r.cell, 0) + 1
    for r in rows:
        assert 0 <= r.n_agree <= r.n_nbrs <= 3
        assert r.n_nbrs <= cell_sizes[r.cell] - 1
        assert (r.knn_label is None) == (r.n_nbrs == 0)
        assert r.consistent == (r.knn_label is not None and r.knn_label == r.label)


def test_source_overlap_matrix_invariants(spark, sf_smoke):
    """Overlap matrix: pair keys ordered and unique, shared bounded by
    both sides, jaccard <= either containment, all ppm in [0, 1e6]."""
    rows = QUERIES["source_overlap_matrix"](spark, sf_smoke).collect()
    keys = [(r.source_a, r.source_b) for r in rows]
    assert len(keys) == len(set(keys))
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 < r.shared_grams <= min(r.grams_a, r.grams_b)
        assert r.jaccard_ppm <= min(r.contain_a_ppm, r.contain_b_ppm)
        for v in (r.jaccard_ppm, r.contain_a_ppm, r.contain_b_ppm):
            assert 0 <= v <= 1_000_000


def test_dup_span_stats_invariants(spark, sf_smoke):
    """Span accounting must be internally consistent: spans partition
    the duplicated segments (sum of span lengths == n_dup via
    max*1 <= sum <= n_dup bounds checkable per doc: n_spans >= 1 iff
    n_dup >= 1, max_span <= n_dup, n_spans <= n_dup, and a doc of all-
    duplicated segments has exactly one span covering everything)."""
    rows = QUERIES["dup_span_stats"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dup_segments <= r.n_segments
        assert (r.n_spans >= 1) == (r.n_dup_segments >= 1)
        assert r.n_spans <= r.n_dup_segments
        assert r.max_span_segments <= r.n_dup_segments
        if r.n_dup_segments == r.n_segments and r.n_segments > 0:
            assert r.n_spans == 1 and r.max_span_segments == r.n_segments
        assert r.dup_ppm == (1_000_000 * r.n_dup_segments) // r.n_segments


def test_winnow_fingerprints_against_reference(spark, sf_smoke):
    """Independent per-doc reimplementation of robust winnowing (plain
    Python over the raw text) must reproduce n_fps and fp_sum exactly,
    and density must respect the winnowing guarantee bounds
    (every w-window contributes a fingerprint -> n_fps >= ceil(n/w)
    coverage lower bound is NOT guaranteed by sampling theory for tied
    hashes, so assert the hard ones: 1 <= n_fps <= n_grams)."""
    import hashlib

    docs = read_parquet_table(spark, sf_smoke, "documents").select(
        "doc_id", "text"
    ).collect()
    w, k = 4, 3
    expect = {}
    for d in docs:
        toks = [x for x in d.text.lower().strip().split() if x]
        if len(toks) < k:
            continue
        hs = [
            int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:12], 16)
            for i in range(len(toks) - k + 1)
        ]
        n = len(hs)
        sel = set()
        for start in range(max(n - w + 1, 1)):
            frame = hs[start : start + w]
            m = min(frame)
            pos = max(i for i in range(start, min(start + w, n)) if hs[i] == m)
            sel.add((pos, m))
        expect[d.doc_id] = (n, len(sel), sum(h for _, h in sel))
    got = {
        r.doc_id: (r.n_grams, r.n_fps, r.fp_sum)
        for r in QUERIES["winnow_fingerprints"](spark, sf_smoke).collect()
    }
    assert got == expect
    for n, n_fps, _ in got.values():
        assert 1 <= n_fps <= n


def test_cluster_soft_dedup_sample_invariants(spark, sf_smoke):
    """Soft dedup: singletons always survive, cluster ids agree with
    the star components query, and per-cluster survivor counts respect
    the 1/size expectation's hard bounds (0 <= kept <= size, with
    kept == size only possible when size == 1 fails to hold — a size-k
    cluster can keep at most the docs whose bucket < 65536/k)."""
    out = QUERIES["cluster_soft_dedup_sample"](spark, sf_smoke)
    rows = out.collect()
    clusters = {
        (r.doc_id, r.cluster_root)
        for r in QUERIES["dedup_cluster_assign_star"](spark, sf_smoke).collect()
    }
    assert {(r.doc_id, r.cluster_root) for r in rows} == clusters
    by_root: dict[int, list] = {}
    for r in rows:
        by_root.setdefault(r.cluster_root, []).append(r)
    for root, members in by_root.items():
        size = members[0].cluster_size
        assert size == len(members)
        n_kept = sum(1 for m in members if m.kept)
        assert 0 <= n_kept <= size
        if size == 1:
            assert n_kept == 1  # bucket * 1 < 65536 always


def test_scaled_codebook_assignment_identity(spark, sf_smoke):
    """The broadcast-codebook Arrow assignment path (the 100 TB
    mechanism behind scale-sized SemDeDup / kNN-audit codebooks,
    VERDICT r6 missing #2) must be OUTPUT-IDENTICAL to the audited
    literal-expression path at the pinned 8-cell codebook — same
    cells, same rounded centroid_sim, same kept flags / majority
    votes. The only cross-path float difference is dot-product
    accumulation order (~1e-16), orders under the measured assignment
    margins (scripts/ann_margin_audit.py)."""
    from fsc_etl_spark.operators.similarity import (
        knn_label_agreement,
        semdedup_prune,
    )
    from fsc_etl_spark.plans.training_data import IVF_PINNED_CENTROIDS
    from fsc_etl_spark.testing import _norm_rows

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    for fn, kw in (
        (semdedup_prune, {"threshold": 0.30}),
        (knn_label_agreement, {}),
    ):
        a = fn(emb, IVF_PINNED_CENTROIDS, assign_strategy="expr", **kw)
        b = fn(emb, IVF_PINNED_CENTROIDS, assign_strategy="pandas", **kw)
        ra = _norm_rows(a.columns, [tuple(r) for r in a.collect()])
        rb = _norm_rows(b.columns, [tuple(r) for r in b.collect()])
        assert ra == rb and len(ra) > 0, fn.__name__


def test_train_codebook_deterministic_and_scaled_semdedup(spark, sf_smoke):
    """train_codebook (distributed integer-exact Lloyd, Arrow
    assignment) must be a pure function of the data — two trainings
    agree exactly — and must produce a usable scale-path codebook:
    semdedup over the trained 16-cell codebook keeps every singleton
    cell's vector and emits one row per input. Also pins the padding
    rule (k > n rows repeats the last center) and that more cells
    never DECREASE the kept count (smaller cells => fewer within-cell
    pairs => fewer losers)."""
    from fsc_etl_spark.operators.clustering import train_codebook
    from fsc_etl_spark.operators.similarity import semdedup_prune

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    cb = train_codebook(emb, k=16, iters=2)
    assert cb == train_codebook(emb, k=16, iters=2)
    assert len(cb) == 16 and len(cb[0]) == 64
    n = emb.count()
    out = semdedup_prune(emb, cb, threshold=0.30, assign_strategy="pandas")
    rows = out.collect()
    assert len(rows) == n
    kept16 = sum(1 for r in rows if r.kept)
    cb8 = train_codebook(emb, k=8, iters=2)
    out8 = semdedup_prune(emb, cb8, threshold=0.30, assign_strategy="pandas")
    kept8 = sum(1 for r in out8.collect() if r.kept)
    assert kept16 >= kept8
    # padding: k far above the row count still yields k centers
    tiny = emb.filter(F.col("vec_id") < 3)
    cb_pad = train_codebook(tiny, k=5, iters=1)
    assert len(cb_pad) == 5 and cb_pad[-1] == cb_pad[-2]


def test_pq_pinned_codebook_shape_validation(spark, sf_smoke):
    """pq_topk must REJECT pinned codebooks whose subspace split does
    not cover the vector dim (ADVICE r6: F.slice past the array end
    silently encodes wrong codes) and ragged books."""
    import pytest

    from fsc_etl_spark.operators.similarity import pq_topk

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    bad_cover = [[[0.1] * 8] * 4] * 7  # 7 x 8 = 56 dims != 64
    with pytest.raises(ValueError, match="cover"):
        pq_topk(emb, queries, k=2, codebooks=bad_cover)
    ragged = [[[0.1] * 8] * 4] * 7 + [[[0.1] * 7] * 4]
    with pytest.raises(ValueError, match="ragged"):
        pq_topk(emb, queries, k=2, codebooks=ragged)


def test_train_codebook_matches_replication(spark, sf_smoke):
    """The distributed integer-exact trainer and its numpy replication
    (oracles_training._replicated_train_codebook — the trained-query
    oracle's codebook source) must agree BIT-FOR-BIT: both replay the
    same integer recurrence (floor(x*127) quantization, exact argmin,
    truncating-div means), so any divergence is a bug in one of them,
    not float noise."""
    from fsc_etl_spark.operators.clustering import train_codebook
    from fsc_etl_spark.plans.oracles_training import _replicated_train_codebook

    emb = read_parquet_table(spark, sf_smoke, "embeddings")
    spark_cb = train_codebook(emb, k=16, iters=2)
    numpy_cb = [list(c) for c in _replicated_train_codebook(sf_smoke, k=16, iters=2)]
    assert spark_cb == numpy_cb


def test_trained_semdedup_and_knn_match_oracle(spark, sf_smoke):
    """Driver-style oracle check for the trained-codebook queries at
    the smoke SF (check_query regenerates the fixture-specific oracle
    via SF_ORACLE_GENERATORS)."""
    check_query(spark, sf_smoke, "embed_semdedup_trained")
    check_query(spark, sf_smoke, "embed_knn_audit_trained")
