"""Retrieval + quality-calibration queries (round 8).

The lexical-retrieval / rank-fusion / quality-gate surface a
training-data pipeline runs next to its dedup and ANN tiers:

- ``bm25_topk_docs``   — Okapi BM25 top-k lexical retrieval
  (Robertson & Spärck Jones; the non-log idf variant keeps every
  arithmetic step a correctly-rounded IEEE op so the oracle is exact,
  same reasoning as tfidf_top_terms' linear idf);
- ``rrf_fused_topk``   — reciprocal-rank fusion (Cormack et al. 2009)
  of the BM25 ranking with a dense cosine ranking — the standard
  hybrid-retrieval combiner, integer-exact by construction;
- ``gopher_quality_flags`` — the Gopher (Rae et al. 2021) document
  rule set as pure integer comparisons (word count, mean word length,
  symbol ratio, alphabetic-word ratio, stopword presence);
- ``quality_calibration_bins`` — reliability-table calibration of the
  stopword-ratio quality score against the declared-language label,
  deciled WITHOUT a global row sort (the decile_bucket_scalable
  histogram decomposition, bit-identical to the NTILE oracle);
- ``embed_covariance_topk`` — top dimension-pair covariances of the
  embedding corpus on a fixed-point grid: the redundancy screen run
  before PCA/whitening at 100 TB, reduced map-side to one O(d^2)
  integer matrix per partition (never a pair-explode shuffle).

Determinism rules follow plans/oracles.py: integer arithmetic
wherever a decision is made, exact-decimal accumulation for float
sums, explicit tie-broken orderings, ROUND only at the display edge.

Reference parity: the reference pipeline (FSC-ETL main.py) has no
retrieval surface — these extend SURVEY.md §2.12's
training-data-pipeline inventory, not §2.1–§2.11.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.functions.text import tokens
from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.similarity import cosine_topk
from fsc_etl_spark.sources.readers import read_parquet_table as t

# Fixed lexical query for the retrieval pair — mid-frequency fixture
# vocabulary so every SF has hits and misses (same fixed-literal
# policy as LSH_HYPERPLANES: reproducible without a side channel).
BM25_QUERY_TERMS: tuple[str, ...] = ("spark", "merge", "vector", "window")
#: Okapi defaults; spelled as DOUBLE literals (scientific notation —
#: both engines parse `1.2e0` as DOUBLE, whereas a bare `1.2` parses
#: as DECIMAL and drags the whole chain into decimal arithmetic,
#: whose division-scale rules DIFFER between Spark and DuckDB: the
#: literal-vs-column form shifted Spark's quotient scale to 6 and
#: cost 1 ulp at the display rounding, caught at sf0.01) and never
#: pre-folded (1.2 + 1 and 2.2 are DIFFERENT doubles, so the plan and
#: the oracle must parse the same literal text).
_K1 = "1.2e0"
_B75 = "0.75e0"
_B25 = "0.25e0"  # 1 - b

#: Fixed-point grid for the covariance screen: 2^18. Power of two =>
#: float32 * 262144.0 is EXACT in double (mantissa untouched), so the
#: half-away rounding both engines apply sees the same exact value.
#: Bound check (docstring of embed_covariance_topk): |x| <= 1 on
#: L2-normalized fixtures => |q| <= 2^18, n*S_ij <= n^2 * 2^36 —
#: int64-safe through n ~ 2.6e5 vectors per statistic.
_COV_SCALE = 262144.0
_EMB_DIM = 64  # fixture embedding width (see LSH_HYPERPLANES)
#: Hard row-count bound for the 2^18-grid int64 moment arithmetic
#: (ADVICE r8): past ~2.6e5 rows the n·Σqᵢqⱼ and Q^T Q accumulations
#: wrap SILENTLY in both engines (matching but wrong). Enforced at
#: runtime — plan-side assert_true in the covariance screen, a
#: ValueError on the collected moments in the power iteration. At a
#: larger corpus, lower the grid shift (each halving of _COV_SCALE
#: buys 4x rows) or shard the statistic.
_MOMENT_SAFE_ROWS = 260_000


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """Per-doc BM25 score for BM25_QUERY_TERMS as an exact
    DECIMAL(28,6) sum (order-free), plus the distinct-term hit count.

    Scale shape: dl and the four per-term tfs come out of one
    tokenize + groupBy(doc_id) as conditional aggregates (the query
    is a fixed literal set, so "tf per term" is just |terms| counters
    wide); corpus stats ride in as collected literals (see inline
    comment); scoring is then a pure projection — no joins anywhere.
    """
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == w, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tf_{i}")
            for i, w in enumerate(BM25_QUERY_TERMS)
        ],
    )
    # Corpus statistics (n_docs, avgdl, per-term df) are ONE row of
    # exact integers: collect them to literals — the PPS control-row
    # pattern — instead of a broadcast-join branch, which would
    # recompute the corpus aggregate per consumer (verified: the
    # branchy form ran 3 FileScans with zero exchange reuse) and
    # expose the plan to AQE per-branch instantiation. avgdl is one
    # int/int IEEE division; Python's float / == the engines' double
    # division, and repr() round-trips it into the expression text
    # exactly. Scale note: this makes BM25 two corpus passes (stats,
    # then scoring) — the floor for any global-idf scorer; at 100 TB
    # you'd persist per_doc between the passes.
    ctrl = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    ).collect()[0]
    n_docs = int(ctrl["n_docs"])
    avgdl = int(ctrl["sum_dl"]) / n_docs
    # Literal-for-literal the same expression text as the oracle:
    # idf = (n_docs - df + 0.5) / (df + 0.5)            [ints + 0.5: exact]
    # tfc = tf * 2.2 / (tf + 1.2*(0.25 + 0.75*(dl/avgdl)))
    # each op correctly rounded IEEE => bit-identical doubles.
    def term_s(i: int) -> str:
        df_i = int(ctrl[f"df_{i}"])
        return (
            f"cast(round(({n_docs} - {df_i} + 0.5e0) / ({df_i} + 0.5e0)"
            f" * (tf_{i} * 2.2e0 / (tf_{i} + {_K1} * ({_B25} + {_B75} * "
            f"(cast(dl as double) / cast('{avgdl!r}' as double))))), 6)"
            " as decimal(28,6))"
        )

    score_sum = " + ".join(term_s(i) for i in range(len(BM25_QUERY_TERMS)))
    n_terms = " + ".join(
        f"cast(tf_{i} > 0 as bigint)" for i in range(len(BM25_QUERY_TERMS))
    )
    return per_doc.select(
        "doc_id",
        F.expr(score_sum).alias("score_sum"),
        F.expr(n_terms).alias("n_terms"),
    ).filter(F.col("n_terms") > 0)


def bm25_topk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed 4-term query.

    Float-parity argument (why this is hash-oracle-safe with no
    margin audit): every input to the score is an exact integer (tf,
    df, dl, n_docs); avgdl is one int/int double division; the idf and
    saturation factors are then a fixed chain of correctly-rounded
    IEEE ops over identical doubles, so Spark and DuckDB produce the
    SAME double per (doc, term). Per-term scores are rounded once to
    6dp and summed as DECIMAL(28,6) — order-free — and the ranking
    compares those exact decimals with a doc_id tie-break.

    100 TB shape: one keyed shuffle + broadcast df/scalars; the
    global top-20 is orderBy().limit() — TakeOrderedAndProject keeps
    a 20-row heap per partition and merges heaps, never a global sort
    (a bare rank<=k filter on an UNpartitioned window does not get
    the WindowGroupLimit rewrite, verified on this plan) — with the
    rank stamped by a window over the surviving 20 rows.
    """
    scored = _bm25_scored(t(spark, sf, "documents"))
    top = scored.orderBy(F.col("score_sum").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score_sum").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            "doc_id",
            "n_terms",
            F.round(F.col("score_sum").cast("double"), 6).alias("bm25"),
        )
    )


def rrf_fused_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and dense-cosine rankings.

    fused = Σ_side 10^9 div (60 + rank_side) — the Cormack et al.
    constant-60 form on an integer ppb grid, so fusion is exact and
    the only float anywhere is inside the two upstream rankings (each
    already oracle-deterministic: BM25 per bm25_topk_docs, cosine per
    cosine_topk's round-6-then-rank contract). Docs and vectors share
    the id space (fixture contract: doc_id == vec_id).

    100 TB shape: both sides are bounded top-50 rankings (heap-merge
    orderBy().limit(), rank stamped over the 50 survivors), the
    fusion join is 50x50-bounded, missing sides contribute 0 via
    full outer join.
    """
    lex = _bm25_scored(t(spark, sf, "documents"))
    w_lex = Window.orderBy(F.col("score_sum").desc(), F.col("doc_id"))
    lex_r = (
        lex.orderBy(F.col("score_sum").desc(), F.col("doc_id"))
        .limit(50)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("int"))
        .select(F.col("doc_id").alias("id"), "lex_rank")
    )
    emb = t(spark, sf, "embeddings")
    sem_r = (
        cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
        .select(F.col("vec_id").alias("id"), F.col("rank").alias("sem_rank"))
    )
    fused = (
        lex_r.join(sem_r, "id", "full_outer")
        .withColumn(
            "fused_ppb",
            F.coalesce(F.expr("1000000000 div (60 + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + sem_rank)"), F.lit(0)),
        )
    )
    w = Window.orderBy(F.col("fused_ppb").desc(), F.col("id"))
    return (
        fused.orderBy(F.col("fused_ppb").desc(), F.col("id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "id", "lex_rank", "sem_rank", "fused_ppb")
    )


#: Gopher Table A1 stopword-presence list (Rae et al. 2021): a doc
#: must contain >= 2 of these as whole tokens.
GOPHER_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rule_columns():
    """The Gopher rules as pure per-row Column expressions over the
    `text` column — shared by the batch flag table and the streaming
    ingest gate (stateless map-side in both). Returns (n_tokens,
    {flag_name: bool Column})."""
    toks = tokens(F.lower(F.col("text")))
    n_tok = F.size(toks).cast("bigint")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )
    n_sym = F.size(
        F.filter(toks, lambda x: x.contains("#") | x.contains("..."))
    ).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    n_stop_distinct = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in GOPHER_STOPS]))
    ).cast("bigint")
    flags = {
        "flag_word_count": (n_tok >= 50) & (n_tok <= 100000),
        "flag_mean_word_len": (3 * n_tok <= tok_chars)
        & (tok_chars <= 10 * n_tok),
        "flag_symbol_ratio": 10 * n_sym <= n_tok,
        "flag_alpha_words": 5 * n_alpha >= 4 * n_tok,
        "flag_stopwords": n_stop_distinct >= 2,
    }
    return n_tok, flags


def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher document-quality rule set as pure integer tests.

    Every rule is an integer inequality (ratios cleared of division:
    mean word length in [3,10] becomes 3·w <= c <= 10·w), so the
    oracle is exact with no float anywhere. Rules, per Rae et al.
    2021 §A1.1: word count in [50, 100k]; mean word length in [3,10];
    symbol-to-word ratio (# / "...") <= 0.1; >= 80% of words contain
    an alphabetic character; >= 2 of 8 designated stopwords present
    (distinct presence, not occurrences).

    100 TB shape: one scan, zero shuffles — every rule is a per-row
    expression over the token array.
    """
    docs = t(spark, sf, "documents")
    n_tok, flags = gopher_rule_columns()
    out = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        *[c.alias(nm) for nm, c in flags.items()],
    )
    pass_all = None
    for nm in flags:
        pass_all = F.col(nm) if pass_all is None else (pass_all & F.col(nm))
    return out.withColumn("pass_gopher", pass_all)


def quality_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability table for the stopword-ratio quality score against
    the declared-language label — the calibration check run before
    trusting a cheap score to gate a 100 TB corpus slice.

    score_ppm = 10^6 · stopword-occurrences div tokens (integer);
    label = (lang = 'en'). Rows are deciled by (score_ppm, doc_id)
    WITHOUT a global row sort, using the decile_bucket_scalable
    histogram decomposition (analytics_more.py): a value-domain-sized
    score histogram carries the cumulative rank, row_number runs only
    within equal-score groups, and NTILE's uneven split is replayed
    as div-arithmetic on (rank, N) — bit-identical to the NTILE
    oracle. Per bin: n, positives, mean score and positive rate (both
    integer ppm via div).
    """
    from fsc_etl_spark.functions.text import LANG_STOPWORDS, stopword_count

    docs = t(spark, sf, "documents").select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("is_en"),
        stopword_count(F.col("text"), LANG_STOPWORDS["en"]).alias("n_stop"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    scored = docs.select(
        "doc_id",
        "is_en",
        F.expr("(1000000 * n_stop) div greatest(n_tok, 1L)").alias("score_ppm"),
    )
    hist = scored.groupBy("score_ppm").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = Window.orderBy("score_ppm").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "score_ppm",
        F.coalesce(F.sum("cnt").over(cum_w), F.lit(0)).alias("cum_before"),
    )
    within_w = Window.partitionBy("score_ppm").orderBy("doc_id")
    n = scored.agg(F.count(F.lit(1)).alias("n_total"))
    ranked = (
        scored.withColumn("rk_in", F.row_number().over(within_w))
        .join(cum, "score_ppm")
        .crossJoin(F.broadcast(n))
        .withColumn("rk", F.col("cum_before") + F.col("rk_in"))
        .withColumn("q", F.expr("n_total div 10"))
        .withColumn("r", F.col("n_total") % 10)
    )
    decile = F.when(
        F.col("rk") <= F.col("r") * (F.col("q") + 1),
        F.expr("(rk + q) div (q + 1)"),
    ).otherwise(
        F.col("r")
        + F.expr("(rk - r * (q + 1) + greatest(q, 1L) - 1) div greatest(q, 1L)")
    )
    return (
        ranked.withColumn("bin", decile.cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_en").cast("bigint").alias("n_pos"),
            F.expr("sum(score_ppm) div count(1)").alias("mean_score_ppm"),
            F.expr("(1000000 * sum(is_en)) div count(1)").alias("pos_rate_ppm"),
        )
    )


def _quantized_moment_partials(diag_k: int):
    """mapInPandas stage shared by the covariance screen and the
    power-iteration PCA: per partition, quantize (2^18 grid, half-away
    rounding — rint would round half-to-even and fork on exact halves)
    and reduce to ONE d×d int64 matmul (upper triangle from offset
    ``diag_k``) + first moments + row count. Emits (di, dj, v) rows:
    dj>0 pair sums, dj=0 first moments, di=0 the count."""

    def _partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        S = np.zeros((_EMB_DIM, _EMB_DIM), dtype=np.int64)
        s1 = np.zeros(_EMB_DIM, dtype=np.int64)
        n_rows = 0
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            A = M * _COV_SCALE  # exact: power-of-two scale
            Q = (np.sign(A) * np.floor(np.abs(A) + 0.5)).astype(np.int64)
            S += Q.T @ Q
            s1 += Q.sum(axis=0)
            n_rows += Q.shape[0]
        if n_rows == 0:
            return
        iu = np.triu_indices(_EMB_DIM, k=diag_k)
        yield pd.DataFrame(
            {
                "di": np.concatenate([iu[0] + 1, np.arange(1, _EMB_DIM + 1), [0]]),
                "dj": np.concatenate([iu[1] + 1, np.zeros(_EMB_DIM, np.int64), [0]]),
                "v": np.concatenate([S[iu], s1, [n_rows]]),
            }
        )

    return _partials


def embed_covariance_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 |covariance| dimension pairs of the embedding corpus on
    a 2^18 fixed-point grid — the dimension-redundancy screen run
    before PCA/whitening or Matryoshka truncation.

    Exactness: q_i = round_half_away(x_i · 2^18) is computed on an
    EXACT double (power-of-two scaling), so both engines and the
    numpy reference quantize identically; thereafter everything is
    int64 — cov_q(i,j) = n·Σq_iq_j − Σq_i·Σq_j, ranked by |cov_q|
    with an (i,j) tie-break. Overflow headroom: |q| <= 2^18 on
    L2-normalized inputs, so n·Σq_iq_j <= n²·2^36 stays under 2^63
    through n ≈ 2.6e5 rows per statistic (raise the grid shift down
    at larger n).

    100 TB shape: mapInPandas reduces each Arrow batch to ONE d×d
    int64 matmul (Q^T Q) accumulated per partition — the shuffle
    carries O(d²) rows per partition, never a per-row pair explode;
    the final agg + moment join is dimension-sized.
    """
    emb = t(spark, sf, "embeddings").select("embedding")
    partials = emb.mapInPandas(
        _quantized_moment_partials(diag_k=1), schema="di int, dj int, v long"
    )
    with cache_scope() as cs:
        # Three branches (pairs / moments / n) read the aggregated
        # partials; without a lineage break each branch re-runs the full
        # corpus scan + matmul (verified: MapInPandas appeared 3x in the
        # physical plan). The agg result is O(d^2) rows and DETERMINISTIC
        # (exact int sums), so the eager checkpoint is safe (a
        # nondeterministic plan could differ between its branches).
        sums = cs.checkpoint(partials.groupBy("di", "dj").agg(F.sum("v").alias("v")))
        pair = sums.filter(F.col("dj") > 0)
        mom = sums.filter((F.col("di") > 0) & (F.col("dj") == 0)).select(
            F.col("di").alias("d"), F.col("v").alias("s1")
        )
        # Runtime overflow guard: raise — via a filter the
        # optimizer cannot prune — rather than silently wrap past the
        # documented int64 headroom. assert_true returns NULL when the
        # predicate holds, so the filter keeps every row.
        n = (
            sums.filter(F.col("di") == 0)
            .select(F.col("v").alias("n_rows"))
            .filter(
                F.assert_true(
                    F.col("n_rows") <= _MOMENT_SAFE_ROWS,
                    F.lit(
                        "embed_covariance_topk: corpus exceeds the 2^18-grid "
                        f"int64 headroom ({_MOMENT_SAFE_ROWS} rows); lower "
                        "_COV_SCALE or shard the statistic"
                    ),
                ).isNull()
            )
        )
        mom_i = mom.withColumnRenamed("d", "di").withColumnRenamed("s1", "si")
        mom_j = mom.withColumnRenamed("d", "dj").withColumnRenamed("s1", "sj")
        cov = (
            pair.join(F.broadcast(mom_i), "di")
            .join(F.broadcast(mom_j), "dj")
            .crossJoin(F.broadcast(n))
            .select(
                "di",
                "dj",
                (F.col("n_rows") * F.col("v") - F.col("si") * F.col("sj")).alias(
                    "cov_q"
                ),
            )
        )
        w = Window.orderBy(F.abs(F.col("cov_q")).desc(), F.col("di"), F.col("dj"))
        return cs.result(
            cov.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 10)
            .select("rank", "di", "dj", "cov_q")
        )


#: Power-iteration constants. Vector grid 2^12, matrix rescaled to
#: |C_r| <= 2^30: the matvec then stays under 64 · 2^30 · 2^12 = 2^48
#: and the renormalization product under 2^60 — int64-safe at every
#: step, for any corpus.
#: 40 rounds: the fixture embeddings are near-isotropic (measured
#: λ2/λ1 = 0.93–0.99), so the DIRECTION converges slowly
#: ((λ2/λ1)^k) while the Rayleigh VALUE converges at the squared
#: rate — at 40 rounds the value sits ≥99% of the true top
#: eigenvalue on both gate fixtures (numpy eigh on the same integer
#: matrix). Fixed rounds keep the output deterministic regardless.
_PI_ROUNDS = 40
_PI_VSCALE = 4096  # 2^12
_PI_CBOUND = 1 << 30


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark's `div` and the
    oracle's CASE-wrapped `//`; Python's bare // floors and would fork
    on negative numerators."""
    return -((-a) // b) if a < 0 else a // b


def embed_power_iteration(spark: SparkSession, sf: str) -> DataFrame:
    """Top principal component of the embedding corpus by INTEGER
    power iteration — PCA's first step, bit-exact across engines
    (no float eigensolver can be hash-oracled; this can).

    Mechanism: the same 2^18-grid quantized covariance as
    embed_covariance_topk, full matrix this time (diag included);
    cov_q = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ rescaled once by ceil(max|cov|/2^30)
    (trunc division), then _PI_ROUNDS fixed rounds of v ← trunc(C_r v · 2^12 /
    max|C_r v|) from the all-ones start. Every step is exact int64
    arithmetic, so Spark, DuckDB, and plain Python agree bit-for-bit;
    sign and convergence questions disappear (fixed start, fixed
    rounds). Output per dimension: the final direction v_q (max-abs
    = 2^12) and its image u_q = C_r v, whose ratio is the Rayleigh
    eigenvalue estimate.

    100 TB shape: the DATA-sized work — one corpus pass reduced
    map-side to d×d int64 partials — is distributed; the iteration
    itself runs on the collected d² moment rows (the kmeans-centroids
    pattern: you never distribute a 64×64 matvec). Driver state is
    O(d²) regardless of corpus size.
    """
    emb = t(spark, sf, "embeddings").select("embedding")
    rows = (
        emb.mapInPandas(
            _quantized_moment_partials(diag_k=0), schema="di int, dj int, v long"
        )
        .groupBy("di", "dj")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    s2 = {}
    s1 = [0] * (_EMB_DIM + 1)
    n = 0
    for r in rows:
        if r["di"] == 0:
            n = int(r["v"])
            if n > _MOMENT_SAFE_ROWS:
                raise ValueError(
                    "embed_power_iteration: corpus exceeds the 2^18-grid "
                    f"int64 headroom ({_MOMENT_SAFE_ROWS} rows); lower "
                    "_COV_SCALE or shard the statistic"
                )
        elif r["dj"] == 0:
            s1[r["di"]] = int(r["v"])
        else:
            s2[(r["di"], r["dj"])] = int(r["v"])
    cov = [[0] * _EMB_DIM for _ in range(_EMB_DIM)]
    m = 0
    for i in range(1, _EMB_DIM + 1):
        for j in range(i, _EMB_DIM + 1):
            c = n * s2[(i, j)] - s1[i] * s1[j]
            cov[i - 1][j - 1] = cov[j - 1][i - 1] = c
            m = max(m, abs(c))
    d = max(1, (m + _PI_CBOUND - 1) // _PI_CBOUND)  # ceil, m >= 0
    cr = [[_trunc_div(c, d) for c in row] for row in cov]
    v = [_PI_VSCALE] * _EMB_DIM
    u = [0] * _EMB_DIM
    for _ in range(_PI_ROUNDS):
        u = [sum(cr[i][j] * v[j] for j in range(_EMB_DIM)) for i in range(_EMB_DIM)]
        mv = max(max(abs(x) for x in u), 1)
        v = [_trunc_div(x * _PI_VSCALE, mv) for x in u]
    out = [(i + 1, v[i], u[i]) for i in range(_EMB_DIM)]
    return spark.createDataFrame(out, schema="dim int, v_q bigint, u_q bigint")


def heaps_law_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law readout): cumulative
    distinct-token count at ten id-range checkpoints of the corpus —
    the statistic that decides whether a tokenizer's vocab budget
    saturates before the corpus does.

    Integer-exact decomposition: each token contributes at the
    checkpoint of its FIRST document, c = (10·first_doc) div N + 1
    (equivalent to "first_doc < ceil(N·c/10)", checkpoint bounds are
    id ranges over the contiguous fixture ids); one tok-keyed shuffle
    (min-doc per token), then a 10-row cumulative window. Checkpoints
    with no new tokens still emit rows (generated 1..10 and left-
    joined). N rides in as a collected literal (1-row control).
    """
    docs = t(spark, sf, "documents")
    n = docs.count()
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    fd = tok.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    # least(..., 10) clamp (ADVICE r8): the div maps contiguous
    # 0..N-1 ids onto 1..10, but out-of-range ids (e.g. the 10x
    # probe's offset union) would land past checkpoint 10 and
    # silently vanish from cum_vocab — clamp them into the final
    # checkpoint so the curve always ends at the total vocabulary.
    new_per_cp = fd.select(
        F.expr(f"least((10 * fd) div {n} + 1, 10)").alias("checkpoint")
    ).groupBy("checkpoint").agg(F.count(F.lit(1)).alias("new_tokens"))
    cps = spark.range(1, 11).select(F.col("id").cast("bigint").alias("checkpoint"))
    w = Window.orderBy("checkpoint").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cps.join(new_per_cp, "checkpoint", "left")
        .select(
            F.col("checkpoint").cast("int").alias("checkpoint"),
            F.expr(f"({n}L * checkpoint + 9) div 10").alias("n_docs_prefix"),
            F.coalesce(F.col("new_tokens"), F.lit(0)).cast("bigint").alias(
                "new_tokens"
            ),
        )
        .withColumn("cum_vocab", F.sum("new_tokens").over(w).cast("bigint"))
    )


def embed_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@10 of prefix-truncated (16-dim) cosine search against
    the full 64-dim ranking — the acceptance test for Matryoshka-style
    dimension truncation (can the cheap prefix index serve candidate
    generation?). Per query (vec_id < 5): how many of the true top-10
    survive in the truncated top-10, as an exact integer and a
    recall percentage.

    Both rankings are the established cosine_topk contract (6dp
    round-then-rank, vec_id tie-break, broadcast query side); the
    overlap join is 10x10-bounded per query.
    """
    emb = t(spark, sf, "embeddings")
    full = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = cosine_topk(emb16, emb16.filter(F.col("vec_id") < 5), k=10)
    hits = (
        full.join(
            trunc.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    qids = full.select("query_id").distinct()
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
        (F.coalesce(F.col("n_common"), F.lit(0)) * 10)
        .cast("int")
        .alias("recall_pct"),
    )


def bm25_prf_expansion(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM/Rocchio step
    of classical retrieval): take the BM25 top-10 documents, score
    every non-query term in them by tf-in-feedback-set · linear idf
    (tf · (N+1)/(df+1), the tfidf_top_terms determinism argument:
    division and multiplication are correctly rounded, log is not),
    and emit the top-15 expansion terms.

    Scale shape: the feedback set is 10 doc ids (broadcast semi
    join); corpus df is one tok-keyed shuffle over doc-distinct
    tokens; ranking is heap-merge TakeOrdered. N rides as a collected
    literal.
    """
    docs = t(spark, sf, "documents")
    n_docs = docs.count()
    scored = _bm25_scored(docs)
    top10 = scored.orderBy(F.col("score_sum").desc(), F.col("doc_id")).limit(10)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    fb_tf = (
        tok.join(F.broadcast(top10.select("doc_id")), "doc_id", "left_semi")
        .filter(~F.col("tok").isin(*BM25_QUERY_TERMS))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf_fb"))
    )
    df_ = (
        tok.dropDuplicates(["doc_id", "tok"])
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = (
        fb_tf.join(df_, "tok")
        .withColumn(
            "score",
            F.round(
                F.col("tf_fb") * F.expr(f"cast({n_docs} + 1 as double)") / (F.col("df") + 1),
                6,
            ),
        )
        .orderBy(F.col("score").desc(), F.col("tok"))
        .limit(15)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("tok"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "tok", "tf_fb", "df", "score"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bm25_topk_docs": bm25_topk_docs,
    "rrf_fused_topk": rrf_fused_topk,
    "gopher_quality_flags": gopher_quality_flags,
    "quality_calibration_bins": quality_calibration_bins,
    "embed_covariance_topk": embed_covariance_topk,
    "heaps_law_vocab_growth": heaps_law_vocab_growth,
    "embed_matryoshka_recall": embed_matryoshka_recall,
    "bm25_prf_expansion": bm25_prf_expansion,
    "embed_power_iteration": embed_power_iteration,
}


# --------------------------------------------------------------------
# DuckDB oracles. Tokenization matches functions/text.tokens:
# split on \s+, drop empties; lowercased where the plan lowercases.
# --------------------------------------------------------------------

_LT = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
_T_RAW = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

_terms_sql = ", ".join(f"'{w}'" for w in BM25_QUERY_TERMS)

_BM25_SCORED = f"""
tok AS (SELECT doc_id, unnest({_LT}) AS tok FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok WHERE tok IN ({_terms_sql}) GROUP BY doc_id, tok),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
terms AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           (n_docs - df + 0.5e0) / (df + 0.5e0)
           * (tf * 2.2e0 / (tf + {_K1} * ({_B25} + {_B75} *
              (CAST(dl AS DOUBLE) / avgdl)))), 6) AS DECIMAL(28,6)) AS s
  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN scal
),
scored AS (
  SELECT doc_id, SUM(s) AS score_sum, CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM terms GROUP BY doc_id
)"""

RETRIEVAL_ORACLES: dict[str, str] = {}

RETRIEVAL_ORACLES["bm25_topk_docs"] = f"""
WITH {_BM25_SCORED}
SELECT CAST(rank AS INT) AS rank, doc_id, n_terms,
       ROUND(CAST(score_sum AS DOUBLE), 6) AS bm25
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score_sum DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= 20
"""

RETRIEVAL_ORACLES["rrf_fused_topk"] = f"""
WITH {_BM25_SCORED},
lex AS (
  SELECT doc_id AS id, CAST(rank AS INT) AS lex_rank
  FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_sum DESC, doc_id) AS rank
        FROM scored)
  WHERE rank <= 50
),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (
  SELECT vec_id AS id, CAST(rank AS INT) AS sem_rank
  FROM (SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                 e.vec_id) AS rank
        FROM e, q WHERE e.vec_id <> 0)
  WHERE rank <= 50
),
fused AS (
  SELECT COALESCE(lex.id, sem.id) AS id, lex_rank, sem_rank,
         COALESCE(1000000000 // (60 + lex_rank), 0)
           + COALESCE(1000000000 // (60 + sem_rank), 0) AS fused_ppb
  FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
)
SELECT CAST(rank AS INT) AS rank, id, lex_rank, sem_rank, fused_ppb
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY fused_ppb DESC, id) AS rank
      FROM fused)
WHERE rank <= 10
"""

_gopher_stops_sql = ", ".join(f"'{w}'" for w in GOPHER_STOPS)

RETRIEVAL_ORACLES["gopher_quality_flags"] = f"""
WITH base AS (
  SELECT doc_id, {_LT} AS tk FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tok_chars,
         CAST(len(list_filter(tk, x -> contains(x, '#')
                                     OR contains(x, '...'))) AS BIGINT) AS n_sym,
         CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(tk, [{_gopher_stops_sql}])) AS BIGINT) AS n_stop
  FROM base
)
SELECT doc_id, n_tokens,
       (n_tokens >= 50 AND n_tokens <= 100000) AS flag_word_count,
       (3 * n_tokens <= tok_chars AND tok_chars <= 10 * n_tokens) AS flag_mean_word_len,
       (10 * n_sym <= n_tokens) AS flag_symbol_ratio,
       (5 * n_alpha >= 4 * n_tokens) AS flag_alpha_words,
       (n_stop >= 2) AS flag_stopwords,
       ((n_tokens >= 50 AND n_tokens <= 100000)
        AND (3 * n_tokens <= tok_chars AND tok_chars <= 10 * n_tokens)
        AND (10 * n_sym <= n_tokens)
        AND (5 * n_alpha >= 4 * n_tokens)
        AND (n_stop >= 2)) AS pass_gopher
FROM m
"""

# Independent construction: plain NTILE over the same deterministic
# total order (the plan replays NTILE as histogram+div arithmetic).
RETRIEVAL_ORACLES["quality_calibration_bins"] = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(lang = 'en' AS INT) AS is_en,
         (1000000 * CAST(len(list_filter({_T_RAW},
              x -> x IN ('the','a','of','and','to'))) AS BIGINT))
           // GREATEST(CAST(len({_T_RAW}) AS BIGINT), 1) AS score_ppm
  FROM documents
),
binned AS (
  SELECT *, NTILE(10) OVER (ORDER BY score_ppm, doc_id) AS bin FROM scored
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(is_en) AS BIGINT) AS n_pos,
       CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
       CAST((1000000 * SUM(is_en)) // COUNT(*) AS BIGINT) AS pos_rate_ppm
FROM binned GROUP BY bin
"""

def _power_iteration_oracle() -> str:
    """Unrolled-CTE twin of embed_power_iteration: the full quantized
    covariance (diag included, symmetric closure), one trunc-division
    rescale, then _PI_ROUNDS matvec+renormalize rounds as generated
    CTE pairs. Trunc division spelled as a CASE (DuckDB's // floors;
    Spark's div and the driver loop truncate). cr/q re-referenced per
    round => AS MATERIALIZED (the documented DuckDB CTE-reuse rule)."""

    def tdiv(a: str, b: str) -> str:
        return (
            f"(CASE WHEN {a} >= 0 THEN ({a}) // ({b})"
            f" ELSE -((-({a})) // ({b})) END)"
        )

    d1 = _EMB_DIM + 1
    parts = [
        f"""q AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {_COV_SCALE!r}) AS BIGINT)) AS qs
  FROM embeddings
)""",
        f"""pairh AS (
  SELECT r1.i AS di, r2.j AS dj, CAST(SUM(qs[r1.i] * qs[r2.j]) AS BIGINT) AS s2
  FROM q, range(1, {d1}) r1(i), range(1, {d1}) r2(j)
  WHERE r1.i <= r2.j GROUP BY 1, 2
)""",
        f"""mom AS (
  SELECT r1.i AS d, CAST(SUM(qs[r1.i]) AS BIGINT) AS s1
  FROM q, range(1, {d1}) r1(i) GROUP BY 1
)""",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)",
        """covh AS (
  SELECT pairh.di, pairh.dj,
         CAST(nn.n * pairh.s2 - mi.s1 * mj.s1 AS BIGINT) AS cov
  FROM pairh JOIN mom mi ON mi.d = pairh.di
             JOIN mom mj ON mj.d = pairh.dj
             CROSS JOIN nn
)""",
        """cfull AS (
  SELECT di AS i, dj AS j, cov FROM covh
  UNION ALL
  SELECT dj, di, cov FROM covh WHERE di <> dj
)""",
        f"""mm AS (
  SELECT GREATEST((MAX(ABS(cov)) + {_PI_CBOUND - 1}) // {_PI_CBOUND},
                  1) AS dd
  FROM cfull
)""",
        f"""cr AS MATERIALIZED (
  SELECT i, j, {tdiv('cov', 'dd')} AS crv FROM cfull, mm
)""",
        f"v0 AS (SELECT unnest(range(1, {d1})) AS i, CAST({_PI_VSCALE} AS BIGINT) AS v)",
    ]
    # EVERY per-round CTE is AS MATERIALIZED: u{k} is referenced
    # twice (by m{k} and v{k}) and v{k} feeds the next round — left
    # inline, DuckDB re-inlines the whole upstream chain per
    # reference and the plan re-evaluates EXPONENTIALLY in the round
    # count (measured: 40 rounds went from milliseconds to >7 min).
    for k in range(1, _PI_ROUNDS + 1):
        parts.append(
            f"""u{k} AS MATERIALIZED (
  SELECT cr.i, CAST(SUM(cr.crv * v{k - 1}.v) AS BIGINT) AS u
  FROM cr JOIN v{k - 1} ON cr.j = v{k - 1}.i GROUP BY cr.i
)"""
        )
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{k})"
        )
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT i, {tdiv(f'u * {_PI_VSCALE}', 'm')} AS v"
            f" FROM u{k}, m{k})"
        )
    last = _PI_ROUNDS
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(v{last}.i AS INT) AS dim, CAST(v{last}.v AS BIGINT) AS v_q,
       CAST(u{last}.u AS BIGINT) AS u_q
FROM v{last} JOIN u{last} ON u{last}.i = v{last}.i
"""
    )


RETRIEVAL_ORACLES["embed_power_iteration"] = _power_iteration_oracle()

RETRIEVAL_ORACLES["heaps_law_vocab_growth"] = f"""
WITH tok AS (SELECT doc_id, unnest({_LT}) AS tok FROM documents),
fd AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
b AS (SELECT LEAST((10 * fd) // n.n + 1, 10) AS checkpoint,
             CAST(COUNT(*) AS BIGINT) AS new_tokens
      FROM fd CROSS JOIN n GROUP BY 1),
c AS (SELECT unnest(range(1, 11)) AS checkpoint)
SELECT CAST(c.checkpoint AS INT) AS checkpoint,
       (n.n * c.checkpoint + 9) // 10 AS n_docs_prefix,
       CAST(COALESCE(b.new_tokens, 0) AS BIGINT) AS new_tokens,
       CAST(SUM(COALESCE(b.new_tokens, 0))
              OVER (ORDER BY c.checkpoint) AS BIGINT) AS cum_vocab
FROM c CROSS JOIN n LEFT JOIN b ON b.checkpoint = c.checkpoint
"""

RETRIEVAL_ORACLES["embed_matryoshka_recall"] = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
e16 AS (SELECT vec_id, list_transform(list_slice(embedding, 1, 16),
                                      x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
fullr AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
             e.vec_id) AS rank
    FROM e, (SELECT * FROM e WHERE vec_id < 5) q
    WHERE e.vec_id <> q.vec_id
  ) WHERE rank <= 10
),
truncr AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e16.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, e16.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(e16.v, e16.v))), 6) DESC,
             e16.vec_id) AS rank
    FROM e16, (SELECT * FROM e16 WHERE vec_id < 5) q
    WHERE e16.vec_id <> q.vec_id
  ) WHERE rank <= 10
)
SELECT f.query_id,
       CAST(COUNT(t.vec_id) AS BIGINT) AS n_common,
       CAST(COUNT(t.vec_id) * 10 AS INT) AS recall_pct
FROM fullr f LEFT JOIN truncr t
  ON t.query_id = f.query_id AND t.vec_id = f.vec_id
GROUP BY f.query_id
"""

RETRIEVAL_ORACLES["bm25_prf_expansion"] = f"""
WITH {_BM25_SCORED},
top10 AS (SELECT doc_id FROM scored ORDER BY score_sum DESC, doc_id LIMIT 10),
fb AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf_fb
  FROM tok WHERE doc_id IN (SELECT doc_id FROM top10)
    AND tok NOT IN ({_terms_sql})
  GROUP BY tok
),
docfreq AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY tok
),
n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
ranked AS (
  SELECT fb.tok, fb.tf_fb, docfreq.df,
         ROUND(fb.tf_fb * CAST(n2.n_docs + 1 AS DOUBLE) / (docfreq.df + 1), 6)
           AS score
  FROM fb JOIN docfreq USING (tok) CROSS JOIN n2
)
SELECT CAST(rank AS INT) AS rank, tok, tf_fb, df, score
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, tok) AS rank FROM ranked)
WHERE rank <= 15
"""

RETRIEVAL_ORACLES["embed_covariance_topk"] = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {_COV_SCALE!r}) AS BIGINT)) AS qs
  FROM embeddings
),
pair AS (
  SELECT r1.i AS di, r2.j AS dj, CAST(SUM(qs[r1.i] * qs[r2.j]) AS BIGINT) AS s2
  FROM q, range(1, {_EMB_DIM + 1}) r1(i), range(1, {_EMB_DIM + 1}) r2(j)
  WHERE r1.i < r2.j GROUP BY 1, 2
),
mom AS (
  SELECT r1.i AS d, CAST(SUM(qs[r1.i]) AS BIGINT) AS s1
  FROM q, range(1, {_EMB_DIM + 1}) r1(i) GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM q),
cov AS (
  SELECT pair.di, pair.dj,
         CAST(n.n_rows * pair.s2 - mi.s1 * mj.s1 AS BIGINT) AS cov_q
  FROM pair JOIN mom mi ON mi.d = pair.di
            JOIN mom mj ON mj.d = pair.dj
            CROSS JOIN n
)
SELECT CAST(rank AS INT) AS rank, CAST(di AS INT) AS di, CAST(dj AS INT) AS dj, cov_q
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cov_q) DESC, di, dj) AS rank
      FROM cov)
WHERE rank <= 10
"""
