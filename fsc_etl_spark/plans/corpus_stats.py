"""Corpus-statistics + retrieval-evaluation queries (round 8, batch 3).

The model-training / eval surface a curation pipeline runs AFTER its
filters are in place — "is the corpus healthy, and do the retrieval
tiers actually work":

- ``bigram_lm_perplexity`` — CCNet-style language-model filtering
  (Wenzek et al. 2020): an add-one-smoothed bigram LM trained on the
  ``lang='en'`` slice scores every document's average negative
  log-likelihood; high-perplexity docs are flagged. The classic
  head/middle/tail quality split, here with an integer-exact scoring
  chain (micro-nat quantization, the DSIR pattern);
- ``retrieval_ndcg_mrr`` — nDCG@10 / MRR / hits@10 of the dense
  cosine ranking against label relevance — the eval harness every
  retrieval tier (LSH/IVF/PQ/exact) is graded by; integer-exact via
  a shared 1e9-scaled discount table computed ONCE in Python and
  inlined into both engines;
- ``zipf_rank_frequency`` — the rank-frequency log-log slope over the
  top-1000 tokens (Zipf's law readout, the companion diagnostic to
  heaps_law_vocab_growth): integer least squares over milli-nat
  quantized points, slope emitted as an exact rational pair plus a
  trunc-div milli-slope;
- ``source_length_drift`` — per-source document-length distribution
  drift vs the corpus (L1 / max deviation in ppm over a 20-bucket
  histogram): the distribution-shift monitor run per ingest source
  before mixing, all-integer.

Determinism rules follow plans/oracles.py. The only float op in the
whole module is one ``ln`` per MODEL row (distinct bigram / history /
rank / frequency — never per document), quantized ONCE to
micro/milli-nats by ``floor`` exactly as dsir_importance_weights
does; the independent reference tests measure the distance of every
quantized value to its floor boundary (>= 1e-3 micro-nats observed vs
~1e-9 worst-case cross-engine ulp noise on these magnitudes).

Reference parity: the reference pipeline (FSC-ETL main.py) has no
LM/eval surface — these extend SURVEY.md §2.12's training-data
inventory, not §2.1–§2.11.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.functions.text import shingles_from_tokens, tokens
from fsc_etl_spark.operators.cache import CacheScope, cache_scope
from fsc_etl_spark.operators.similarity import cosine_topk
from fsc_etl_spark.operators.sketches import MG_SHARDS
from fsc_etl_spark.sources.readers import read_parquet_table as t

#: Perplexity gate in micro-nats/bigram: the deployment-pinned
#: keep threshold (CCNet keeps the low-perplexity head; the fixture
#: corpus spans ~3.23e6..3.67e6, so 3.45e6 lands near the 75th pct —
#: a discriminating, fixed-literal gate, same policy as
#: BM25_QUERY_TERMS).
PPL_GATE_E6 = 3_450_000

#: nDCG discount table: W[r] = round(1e9 / log2(r+1)) for ranks
#: 1..10, computed ONCE here and inlined as INTEGER literals into
#: both the Spark plan and the DuckDB oracle — the engines never
#: evaluate a log at query time, so the metric is exact by
#: construction. _NDCG_P[k] = sum(W[1..k]) (ideal DCG prefix sums,
#: P[0] = 0) for the IDCG lookup.
_NDCG_W: tuple[int, ...] = tuple(
    round(1e9 / math.log2(r + 1)) for r in range(1, 11)
)
_NDCG_P: tuple[int, ...] = tuple(
    sum(_NDCG_W[:k]) for k in range(0, 11)
)


def lm_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g, w1) adjacent-bigram stream — stateless per-row
    expressions, so it runs unchanged on batch AND streaming frames
    (the dsir_gram_buckets property)."""
    tk = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("tk")
    )
    return tk.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("tk"), 2)).alias("g"),
    ).withColumn("w1", F.expr("split_part(g, ' ', 1)"))


def lm_model_frames(cs: CacheScope, docs: DataFrame):
    """The frozen add-one bigram model trained on the ``lang='en'``
    slice: (bigram scores, history scores, unseen-history score
    Column) in micro-nats. The model frame is checkpointed in the
    caller's cache scope ``cs``.

    History mass c(w1·) derives from the vocab-bounded MODEL frame,
    never a second corpus pass; V (train vocab + 1 OOV class)
    collects as the one-row control literal (PPS pattern) and the
    unseen-history score ln(1/V) is built from that literal IN-ENGINE
    (never a Python math.log — the ulp story stays the audited one).
    """
    train = docs.filter(F.col("lang") == "en")
    tk = train.select(tokens(F.lower(F.col("text"))).alias("tk"))
    # The model frame is vocab-bounded and consumed by THREE branches
    # (hist, mscore, and hist's own consumers) — without a lineage
    # break every reference re-expands the corpus gram scan (plan
    # audit: 10 parquet scans of documents before, 4 after; the
    # covariance-screen rule).
    model = cs.checkpoint(
        lm_grams(train)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    hist = (
        model.withColumn("hw", F.expr("split_part(g, ' ', 1)"))
        .groupBy("hw")
        .agg(F.sum("c2").cast("bigint").alias("c1"))
    )
    v_sz = (
        tk.select(F.explode("tk").alias("tok"))
        .agg(F.countDistinct("tok"))
        .collect()[0][0]
        + 1
    )
    mscore = model.join(
        hist, F.expr("split_part(g, ' ', 1)") == hist["hw"]
    ).select(
        "g",
        F.floor(
            F.lit(1e6)
            * F.log(
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.lit(v_sz)).cast("double")
            )
        )
        .cast("long")
        .alias("s2"),
    )
    hscore = hist.select(
        F.col("hw"),
        F.floor(
            F.lit(1e6)
            * F.log(F.lit(1.0) / (F.col("c1") + F.lit(v_sz)).cast("double"))
        )
        .cast("long")
        .alias("s1"),
    )
    s0 = F.floor(F.lit(1e6) * F.log(F.lit(1.0) / F.lit(float(v_sz)))).cast(
        "long"
    )
    return mscore, hscore, s0


def lm_per_doc(grams: DataFrame, mscore: DataFrame, hscore: DataFrame, s0) -> DataFrame:
    """(doc_id, n_bigrams, nll_e6) from a gram stream and the frozen
    model frames — exact BIGINT accumulation; works on batch AND
    streaming gram frames (one doc-keyed aggregation, the only state)."""
    scored = (
        grams.join(mscore, "g", "left")
        .join(hscore, grams["w1"] == hscore["hw"], "left")
        .select("doc_id", F.coalesce(F.col("s2"), F.col("s1"), s0).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(-F.col("s")).cast("bigint").alias("nll_e6"),
    )


def lm_final_shape(docs: DataFrame, per_doc: DataFrame) -> DataFrame:
    """Final row shape shared by the batch query and the streaming
    gate: every doc (zero-bigram docs included via the left join)
    with exact integer NLL, trunc-div average and the pinned gate."""
    return docs.select("doc_id", "lang").join(per_doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce(F.col("nll_e6"), F.lit(0)).cast("bigint").alias("nll_e6"),
        F.when(F.col("n_bigrams") > 0, F.expr("nll_e6 div n_bigrams"))
        .cast("bigint")
        .alias("avg_nll_e6"),
        F.coalesce(
            (F.col("n_bigrams") > 0)
            & (F.expr("nll_e6 div n_bigrams") <= F.lit(PPL_GATE_E6)),
            F.lit(False),
        ).alias("kept"),
    )


def bigram_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): score every
    document by the average negative log-likelihood of an add-one-
    smoothed bigram model trained on the ``lang='en'`` slice.

    Exactness: p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V) is quantized ONCE
    per distinct MODEL row to micro-nats — floor(1e6·ln(ratio)) — so
    per-document accumulation is exact BIGINT (the DSIR argument:
    counts are exact ints, int→double is exact below 2^53, one
    correctly-rounded division, one ln whose <=1-ulp cross-engine
    noise is ~1e-9 micro-nats against floor-boundary distances the
    reference test measures at >=1e-3). Unseen bigram backs off to
    1/(c(w1·)+V); unseen history to 1/V — both the same quantized
    form. avg = nll div n (trunc; both operands non-negative so
    DuckDB's floor-div agrees).

    100 TB shape: one gram explode feeding (a) the bigram-keyed model
    agg and (b) the scoring join; history counts derive from the
    MODEL (vocab-bounded), never a second corpus pass; V collects as
    the one-row control literal (PPS pattern). Scoring is two
    vocab-keyed hash joins + one doc-keyed agg — at real scale the
    model is count-pruned and broadcast, the join keys here keep it
    shuffle-correct either way.
    """
    docs = t(spark, sf, "documents", parallel=True)
    with cache_scope() as cs:
        mscore, hscore, s0 = lm_model_frames(cs, docs)
        per_doc = lm_per_doc(lm_grams(docs), mscore, hscore, s0)
        return cs.result(lm_final_shape(docs, per_doc))


def ccnet_ppl_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """The ACTUAL CCNet split (Wenzek et al. 2020 §4.3): documents
    bucketed head/middle/tail by PERCENTILES of the LM score, not a
    fixed gate — head = cleanest third, tail = candidates for
    discard. Thresholds are the exact lower-nearest-rank 333‰/667‰
    of avg_nll over scoreable docs, computed WITHOUT a global row
    sort (the exact_quantiles_scalable histogram decomposition:
    value-domain histogram + cumulative window + 2×|hist| range-join
    rank pick); the oracle finds them by the independent sorted-
    row-number construction.

    All decisions integer: avg_nll_e6 is a trunc division of exact
    BIGINTs, thresholds are picked values, the bucket CASE compares
    ints. Empty docs (no bigram) get NULL bucket.

    100 TB shape: the LM scoring plan (see bigram_lm_perplexity) +
    one |distinct-avg|-bounded histogram window + a 1-row threshold
    frame broadcast onto the per-doc stream. The per-doc frame is
    localCheckpoint'd: two consumers (histogram, final join) would
    otherwise re-run the whole scoring subplan (the covariance-screen
    lineage-break rule).
    """
    docs = t(spark, sf, "documents")
    with cache_scope() as cs:
        mscore, hscore, s0 = lm_model_frames(cs, docs)
        per_doc = cs.checkpoint(lm_per_doc(lm_grams(docs), mscore, hscore, s0))
        avg = per_doc.filter(F.col("n_bigrams") > 0).select(
            "doc_id", F.expr("nll_e6 div n_bigrams").alias("avg_nll_e6")
        )
        hist = avg.groupBy("avg_nll_e6").agg(F.count(F.lit(1)).alias("cnt"))
        cum = hist.select(
            "avg_nll_e6",
            F.sum("cnt")
            .over(
                Window.orderBy("avg_nll_e6").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .alias("cum_le"),
        )
        targets = (
            avg.agg(F.count(F.lit(1)).alias("n"))
            .select(
                "n",
                F.explode(F.array(F.lit(333), F.lit(667))).alias("q_permille"),
            )
            .withColumn("k", F.expr("(q_permille * (n - 1)) div 1000 + 1"))
        )
        thr = (
            cum.join(F.broadcast(targets), F.col("cum_le") >= F.col("k"))
            .groupBy("q_permille")
            .agg(F.min("avg_nll_e6").alias("t"))
            .agg(
                F.min(F.when(F.col("q_permille") == 333, F.col("t"))).alias("t_head"),
                F.min(F.when(F.col("q_permille") == 667, F.col("t"))).alias("t_mid"),
            )
        )
        return cs.result(
            docs.select("doc_id", "lang")
            .join(avg, "doc_id", "left")
            .crossJoin(F.broadcast(thr))
            .select(
                "doc_id",
                "lang",
                F.col("avg_nll_e6").cast("bigint").alias("avg_nll_e6"),
                F.when(F.col("avg_nll_e6").isNull(), F.lit(None).cast("string"))
                .when(F.col("avg_nll_e6") <= F.col("t_head"), F.lit("head"))
                .when(F.col("avg_nll_e6") <= F.col("t_mid"), F.lit("middle"))
                .otherwise(F.lit("tail"))
                .alias("bucket"),
            )
        )


def retrieval_ndcg_mrr(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-quality evaluation of the dense cosine tier: nDCG@10,
    MRR and hits@10 per query (vec_id < 5, the house query set) with
    label agreement as the relevance judgment — the harness every
    ANN tier in this repo is ultimately graded against.

    Exactness: ranks come from the audited 6dp round-then-rank cosine
    contract; gains are 0/1 ints; the log2 discounts are the
    module-level 1e9-scaled INTEGER table shared verbatim by both
    engines, so DCG/IDCG are exact BIGINT sums and
    ndcg_ppm = (1e6·dcg) div idcg / mrr_e9 = 1e9 div first_rank are
    exact integer divisions of non-negative operands.

    100 TB shape: the ranking is the broadcast-query cosine scan
    (corpus never shuffles on vectors); relevance joins touch the
    50-row rank frame; the per-label corpus totals (for IDCG) are one
    |labels|-row aggregate, broadcast back.
    """
    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ranks = cosine_topk(emb, queries, k=10)
    lab = emb.select("vec_id", "label")
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    rel = (
        ranks.join(lab, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .withColumn("rel", (F.col("label") == F.col("qlabel")).cast("int"))
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    per_q = rel.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("hits10"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rank"),
        F.sum(F.col("rel") * F.element_at(w_arr, F.col("rank")))
        .cast("bigint")
        .alias("dcg_e9"),
    )
    # total relevant per query = corpus label count - 1 (self)
    lab_tot = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    p_arr = F.array(*[F.lit(p) for p in _NDCG_P])
    base = qlab.join(F.broadcast(lab_tot), qlab["qlabel"] == lab_tot["label"]).select(
        "query_id",
        (F.col("n_lab") - 1).cast("bigint").alias("n_rel"),
    )
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel"),
            F.coalesce(F.col("hits10"), F.lit(0)).cast("bigint").alias("hits10"),
            F.col("first_rank").cast("int").alias("first_rank"),
            F.coalesce(F.expr("1000000000 div first_rank"), F.lit(0))
            .cast("bigint")
            .alias("mrr_e9"),
            F.coalesce(F.col("dcg_e9"), F.lit(0)).cast("bigint").alias("dcg_e9"),
            F.element_at(p_arr, F.least(F.col("n_rel"), F.lit(10)).cast("int") + 1)
            .cast("bigint")
            .alias("idcg_e9"),
        )
        .withColumn(
            "ndcg_ppm",
            F.when(
                F.col("idcg_e9") > 0,
                F.expr("(1000000 * dcg_e9) div idcg_e9"),
            ).cast("bigint"),
        )
    )


def zipf_rank_frequency(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit: integer least-squares slope of
    ln(freq) ~ ln(rank) over the top-1000 tokens — the rank-frequency
    companion to heaps_law_vocab_growth (is the token distribution
    power-law shaped, and how heavy is the head?).

    Exactness: rank/freq are exact ints; x = floor(1e3·ln(rank)),
    y = floor(1e3·ln(freq)) quantize once per POINT (1000 rows, never
    corpus-sized; milli-nats keep n·Σxy under 2^63 — micro-nats would
    overflow at Σxy ≈ 1e17·n). The slope leaves as the exact rational
    (slope_num, slope_den) = (nΣxy−ΣxΣy, nΣx²−(Σx)²) plus
    slope_milli = (1000·num) div den — trunc division spelled `div`
    here and CASE-guarded in the oracle (num < 0 on a Zipf corpus;
    DuckDB's bare // floors).

    100 TB shape: one token-keyed count shuffle + a TakeOrdered(1000)
    heap merge — no global sort; the window ranks 1000 rows on one
    partition by construction; the fit is a single 1-row aggregate.
    """
    docs = t(spark, sf, "documents")
    freq = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(1000)
    )
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("tok"))
        ),
    )
    pts = ranked.select(
        F.floor(F.lit(1e3) * F.log(F.col("rank").cast("double")))
        .cast("long")
        .alias("x"),
        F.floor(F.lit(1e3) * F.log(F.col("freq").cast("double")))
        .cast("long")
        .alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return agg.select(
        "n_points",
        (F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
    ).withColumn(
        "slope_milli",
        F.when(
            F.col("slope_den") > 0,
            F.expr("(1000 * slope_num) div slope_den"),
        ).cast("bigint"),
    )


def source_length_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document-length distribution drift vs the corpus —
    the shift monitor run per ingest source before mixing (a source
    whose length histogram walks away from the corpus is the first
    sign of a scraper regression or template flood).

    Histogram: 20 buckets of 100 chars (n_chars div 100, capped
    at 19); per source, L1 distance and max deviation between its
    ppm distribution and the corpus ppm distribution — all integer
    (ppm = (1e6·cnt) div total, non-negative trunc division both
    engines agree on).

    100 TB shape: two bucket-keyed aggregates (|sources|·20 and 20
    rows), the zero-filled grid built from the |sources|-row totals
    frame (explode of a 20-literal sequence), one broadcast join —
    nothing corpus-sized past the first agg.
    """
    docs = t(spark, sf, "documents")
    b = F.least(F.expr("n_chars div 100"), F.lit(19)).cast("int").alias("b")
    n_all = docs.count()
    src_b = docs.select(F.col("source"), b).groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    all_b = docs.select(b).groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_all")
    )
    grid = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("b"),
        )
    )
    joined = (
        grid.join(src_b, ["source", "b"], "left")
        .join(F.broadcast(all_b), "b", "left")
        .select(
            "source",
            "n_docs",
            F.expr(
                "abs((1000000 * coalesce(cnt, 0L)) div n_docs"
                f" - (1000000 * coalesce(cnt_all, 0L)) div {n_all}L)"
            ).alias("dev"),
        )
    )
    return joined.groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.sum("dev").cast("bigint").alias("l1_ppm"),
        F.max("dev").cast("bigint").alias("max_dev_ppm"),
    )


#: Exact-Jaccard confirmation threshold for near-dup verdicts, in ppm
#: (0.60 — the standard MinHash-LSH operating point).
DUP_JACCARD_PPM = 600_000


def tokenizer_fertility_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per
    whitespace word and characters per subword token — the
    multilingual tokenizer-budget diagnostic (a language with 2×
    fertility pays 2× the context window for the same text; run
    before fixing a training mix).

    All-integer: per-lang sums of exact counts, ppm ratios by trunc
    division of non-negative BIGINTs (fertility =
    (1e6·Σbpe) div Σwords; chars_per_tok = (1e6·Σchars) div Σbpe,
    NULL-guarded on empty denominators per the ANSI `div` rule).

    100 TB shape: one corpus scan of pure codegen expressions
    (regexp_extract_all + size), one |langs|-row aggregate — nothing
    else.
    """
    from fsc_etl_spark.functions.text import bpe_token_count, char_count, token_count

    docs = t(spark, sf, "documents")
    per = docs.select(
        "lang",
        token_count(F.lower(F.col("text"))).alias("w"),
        bpe_token_count(F.col("text")).alias("bpe"),
        char_count(F.col("text")).alias("ch"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("bpe").cast("bigint").alias("n_bpe"),
        F.sum("ch").cast("bigint").alias("n_chars"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe",
        "n_chars",
        F.when(F.col("n_words") > 0, F.expr("(1000000 * n_bpe) div n_words"))
        .cast("bigint")
        .alias("fertility_ppm"),
        F.when(F.col("n_bpe") > 0, F.expr("(1000000 * n_chars) div n_bpe"))
        .cast("bigint")
        .alias("chars_per_tok_ppm"),
    )


def incremental_lsh_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: a new ingest batch (odd doc_ids —
    the deterministic batch split) deduped against the existing
    corpus (even ids) AND within itself, WITHOUT ever re-pairing the
    existing corpus against itself — the shape that keeps continuous
    ingestion sub-quadratic at 100 TB (the full-corpus pair join is
    the thing you can't afford to re-run per batch).

    Mechanism: the audited 8-hash MinHash signatures + 4×2 banding
    (operators/dedup.py); candidate pairs only where the RIGHT member
    is new and the left is existing (any) or an earlier new id;
    verdict by EXACT 3-gram shingle Jaccard >= 0.60 (integer ppm) on
    the candidate set only. Survivorship: a new doc duplicates the
    MINIMUM qualifying partner id. Output: every new doc with its
    candidate count, verdict, and dup_of.

    100 TB shape: one shingle explode + signature agg over new ∪
    touched-band docs (here the full frame — band buckets are
    hash-partitioned), per-bucket pair expansion bounded by LSH
    bucket size, exact verification semi-joins shingles down to
    candidate ids only. Nothing is all-pairs; the existing×existing
    quadrant is never generated.
    """
    from fsc_etl_spark.operators.dedup import minhash_signatures

    return _incremental_lsh_dedup_impl(spark, sf, minhash_signatures)


#: Candidate-pair broadcast cap (VERDICT r8): the verify semi join
#: broadcasts the LSH candidate pairs — correct while banding keeps
#: them bounded, but ONE skewed band (a template flood hashing to a
#: single bucket) could make the pair frame driver-sized. Past this
#: many pairs we fall back to the shuffled semi join (equi keys on
#: both sides — the plain hash-partitioned path). 1e6 pairs of two
#: BIGINTs ≈ 16 MB serialized: comfortably broadcastable; past it
#: the shuffle is the safer plan anyway.
_PAIR_BROADCAST_LIMIT = 1_000_000


def _incremental_lsh_dedup_impl(
    spark: SparkSession,
    sf: str,
    minhash_signatures,
    broadcast_pair_limit: int = _PAIR_BROADCAST_LIMIT,
) -> DataFrame:
    docs = t(spark, sf, "documents")
    with cache_scope() as cs:
        sigs = minhash_signatures(docs, k=8, shingle_n=3)
        bands = sigs.select(
            "doc_id",
            *[
                F.md5(
                    F.concat_ws("|", F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))
                ).alias(f"band{b}")
                for b in range(4)
            ],
        )
        long = bands.selectExpr(
            "doc_id",
            "stack(4, "
            + ", ".join(f"{b}, band{b}" for b in range(4))
            + ") as (band_idx, band_sig)",
        )
        buckets = (
            long.groupBy("band_idx", "band_sig")
            .agg(F.collect_list("doc_id").alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        # pairs is LSH-bounded (candidates only) and consumed by THREE
        # branches (cand_ids, the verify semi join, the verdict join);
        # sh below by three more (two self-join sides + sizes). Without
        # lineage breaks each reference re-expands the whole signature /
        # shingle subplan (plan audit: 30 parquet scans and 102 exchanges
        # before the two checkpoints, 2/20 after).
        pairs = cs.checkpoint(
            buckets.select(F.explode("ids").alias("id_old"), "ids")
            .select("id_old", F.explode("ids").alias("id_new"))
            .filter(
                (F.col("id_new") % 2 == 1)
                & (F.col("id_old") != F.col("id_new"))
                & ((F.col("id_old") % 2 == 0) | (F.col("id_old") < F.col("id_new")))
            )
            .distinct(),
            # lazy: the size-guard count right below is the materializing
            # action — pair build + checkpoint run as ONE job
            eager=False,
        )
        # Size-guarded broadcast: the count materializes the
        # checkpoint, so later consumers read cached partitions; an
        # oversized (skewed-band) candidate set falls back to the
        # shuffled semi join instead of blowing the driver.
        pairs_semi = (
            F.broadcast(pairs) if pairs.count() <= broadcast_pair_limit else pairs
        )
        # exact verification, candidate docs only
        cand_ids = (
            pairs.select(F.col("id_old").alias("doc_id"))
            .union(pairs.select("id_new"))
            .distinct()
        )
        tk = docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("__tk")
        )
        sh = cs.checkpoint(
            tk.select(
                "doc_id",
                F.explode(shingles_from_tokens(F.col("__tk"), 3)).alias("sh"),
            )
            .distinct()
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), F.col("a.sh") == F.col("b.sh"))
            .join(
                pairs_semi,
                (F.col("a.doc_id") == F.col("id_old"))
                & (F.col("b.doc_id") == F.col("id_new")),
                "left_semi",
            )
            .groupBy(F.col("a.doc_id").alias("id_old"), F.col("b.doc_id").alias("id_new"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        verdicts = (
            pairs.join(inter, ["id_old", "id_new"], "left")
            .join(sizes.withColumnRenamed("doc_id", "id_old").withColumnRenamed("sz", "sz_a"), "id_old")
            .join(sizes.withColumnRenamed("doc_id", "id_new").withColumnRenamed("sz", "sz_b"), "id_new")
            .select(
                "id_old",
                "id_new",
                F.expr(
                    "(1000000 * coalesce(inter, 0L)) div (sz_a + sz_b - coalesce(inter, 0L))"
                ).alias("jacc_ppm"),
            )
        )
        per_new = verdicts.groupBy("id_new").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cand"),
            F.min(
                F.when(F.col("jacc_ppm") >= DUP_JACCARD_PPM, F.col("id_old"))
            ).alias("dup_of"),
        )
        newdocs = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id")
        out = newdocs.join(
            per_new.withColumnRenamed("id_new", "doc_id"), "doc_id", "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("bigint").alias("n_cand"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
        return cs.result(out)


def minhash_jaccard_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Accuracy audit of the MinHash estimator itself: for
    every LSH candidate pair, the sketch's Jaccard ESTIMATE (matching
    slots / k, the unbiased per-slot collision estimator) next to the
    EXACT 3-gram Jaccard, plus the absolute error — all integer ppm.
    This is the missing calibration readout for the dedup tier: the
    banding thresholds (4x2 at k=8) are chosen from the estimator's
    S-curve, and this query puts the estimator's measured error on
    the candidates where it matters into the driver contract.

    Scale shape: signatures and candidate pairs are the audited
    dedup-tier constructions (one shingle shuffle + band buckets,
    never all-pairs); exact verification semi-joins shingles down to
    candidate docs only — the incremental_lsh_dedup posture. The two
    checkpoints break the 3x/4x subplan re-expansion the consumers
    would otherwise cause (same audit as incremental_lsh_dedup).
    """
    from fsc_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = t(spark, sf, "documents")
    with cache_scope() as cs:
        # lazy: the pairs size-guard count below is the first action — it
        # materializes pairs AND (transitively) sigs in one job
        sigs = cs.checkpoint(minhash_signatures(docs, k=8, shingle_n=3), eager=False)
        pairs = cs.checkpoint(
            lsh_candidate_pairs(sigs, bands=4, rows_per_band=2), eager=False
        )
        a = sigs.select(
            F.col("doc_id").alias("id_a"),
            *[F.col(f"mh{i}").alias(f"a{i}") for i in range(8)],
        )
        b = sigs.select(
            F.col("doc_id").alias("id_b"),
            *[F.col(f"mh{i}").alias(f"b{i}") for i in range(8)],
        )
        matches = sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
        )
        # estimate = matches/8 in ppm; 1e6 div 8 = 125000 exactly, so the
        # multiply IS the floor division.
        est = pairs.join(a, "id_a").join(b, "id_b").select(
            "id_a",
            "id_b",
            (matches * 125000).cast("bigint").alias("sig_est_ppm"),
        )
        cand_ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .union(pairs.select("id_b"))
            .distinct()
        )
        sh = cs.checkpoint(
            docs.join(cand_ids, "doc_id", "left_semi")
            .select("doc_id", tokens(F.lower(F.col("text"))).alias("__tk"))
            .select(
                "doc_id",
                F.explode(shingles_from_tokens(F.col("__tk"), 3)).alias("sh"),
            )
            .distinct()
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        # Size-guard the candidate-pair broadcast exactly like
        # incremental_lsh_dedup's _PAIR_BROADCAST_LIMIT — a skewed band
        # can make `pairs` arbitrarily large, and pairs is already
        # localCheckpoint-ed so the count is a cached-frame scan.
        pairs_for_semi = (
            F.broadcast(pairs) if pairs.count() <= _PAIR_BROADCAST_LIMIT else pairs
        )
        inter = (
            sh.alias("sa")
            .join(sh.alias("sb"), F.col("sa.sh") == F.col("sb.sh"))
            .join(
                pairs_for_semi,
                (F.col("sa.doc_id") == F.col("id_a"))
                & (F.col("sb.doc_id") == F.col("id_b")),
                "left_semi",
            )
            .groupBy(
                F.col("sa.doc_id").alias("id_a"), F.col("sb.doc_id").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return cs.result(
            est.join(inter, ["id_a", "id_b"], "left")
            .join(
                sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"),
                "id_a",
            )
            .join(
                sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "sig_est_ppm",
                F.expr(
                    "(1000000 * coalesce(inter, 0L)) div (sz_a + sz_b - coalesce(inter, 0L))"
                ).cast("bigint").alias("jacc_ppm"),
                F.abs(
                    F.col("sig_est_ppm")
                    - F.expr(
                        "(1000000 * coalesce(inter, 0L)) div (sz_a + sz_b - coalesce(inter, 0L))"
                    )
                ).cast("bigint").alias("err_ppm"),
            )
        )


def ngram_novelty_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-growth value curve: split the corpus into 10
    contiguous id-range deciles and measure, per decile, how many of
    its distinct 3-gram shingles are NEW (first seen in that decile)
    vs merely touched — novelty_ppm = 1e6·new div touched. This is
    the n-gram-level saturation readout a data buyer reads before
    paying for the next crawl slice: when novelty flattens, more of
    the same source stops adding information. Companion to the
    token-level heaps_law_vocab_growth (vocabulary) — 3-gram novelty
    decays far slower and tracks phrasal redundancy.

    Integer-exact: decile = least((10·doc_id) div N + 1, 10) (the
    clamped heaps-law checkpoint rule), one distinct over (decile,
    gram), one gram-keyed min-agg for first deciles, two 10-row
    rollups. Zero-filled over the decile grid; cum_new_grams rides a
    10-row window.
    """
    docs = t(spark, sf, "documents", parallel=True)
    n = docs.count()
    # Materialize the token array BEFORE shingling (the documented
    # HOF pitfall: lambda bodies re-evaluate non-lambda subexpressions
    # per element, making inline shingling O(L²) per doc — measured
    # 12.4 s → ~3 s at sf0.1 for this query).
    toked = docs.select(
        F.expr(f"least((10 * doc_id) div {n} + 1, 10)").alias("dec"),
        tokens(F.lower(F.col("text"))).alias("__tk"),
    )
    g = toked.select(
        "dec", F.explode(shingles_from_tokens(F.col("__tk"), 3)).alias("g")
    )
    with cache_scope() as cs:
        dg = cs.checkpoint(g.distinct())  # (decile, gram) — read by both rollups
        touched = dg.groupBy("dec").agg(F.count(F.lit(1)).alias("touched_grams"))
        new = (
            dg.groupBy("g")
            .agg(F.min("dec").alias("dec"))
            .groupBy("dec")
            .agg(F.count(F.lit(1)).alias("new_grams"))
        )
        grid = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
        w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        return cs.result(
            grid.join(touched.withColumnRenamed("dec", "decile"), "decile", "left")
            .join(new.withColumnRenamed("dec", "decile"), "decile", "left")
            .select(
                "decile",
                F.coalesce("touched_grams", F.lit(0)).cast("bigint").alias(
                    "touched_grams"
                ),
                F.coalesce("new_grams", F.lit(0)).cast("bigint").alias("new_grams"),
            )
            .withColumn(
                "novelty_ppm",
                F.expr(
                    "CASE WHEN touched_grams = 0 THEN NULL "
                    "ELSE (1000000 * new_grams) div touched_grams END"
                ).cast("bigint"),
            )
            .withColumn(
                "cum_new_grams", F.sum("new_grams").over(w).cast("bigint")
            )
        )


#: Fixed sample budget for the stratified sampler — a CONTRACT
#: constant (the downstream eval set size), not data-derived.
STRATIFIED_BUDGET = 200


def stratified_sample_exact(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT proportional stratified sampling (round 9): allocate a
    fixed budget of STRATIFIED_BUDGET docs across (source, lang)
    strata by the largest-remainder (Hamilton) method — quota =
    floor(B·n/N) per stratum plus one extra for the strata with the
    largest remainders (ties: source, lang) until the budget is
    spent — then take each stratum's quota deterministically by
    md5 rank (ties impossible: doc_id rides in the sort key). The
    RNG-free twin of every eval-set / human-review draw a curation
    pipeline makes; exact allocation beats per-row Bernoulli
    sampling's variance AND hash-checks bit-for-bit.

    Scale shape: strata stats are a |strata|-row aggregate; the
    allocation windows run over that bounded frame (aggregate-bounded
    global windows — the plan-gate-whitelisted class); membership is
    one broadcast quota join + a per-stratum rank window (partitioned
    by stratum, never global).
    """
    docs = t(spark, sf, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = strata.agg(F.sum("n_docs").alias("n_total"))
    b = STRATIFIED_BUDGET
    alloc = (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            F.expr(f"({b}L * n_docs) div n_total").alias("q_floor"),
            F.expr(f"({b}L * n_docs) % n_total").alias("rem"),
        )
    )
    wsum = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wrank = Window.orderBy(F.col("rem").desc(), "source", "lang")
    quotas = (
        alloc.withColumn("leftover", F.lit(b) - F.sum("q_floor").over(wsum))
        .withColumn("rrank", F.row_number().over(wrank))
        .select(
            "source",
            "lang",
            "n_docs",
            (
                F.col("q_floor")
                + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
            ).cast("bigint").alias("quota"),
        )
    )
    wtake = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.select("doc_id", "source", "lang")
        .withColumn("samp_rank", F.row_number().over(wtake).cast("int"))
        .join(F.broadcast(quotas), ["source", "lang"])
        .filter(F.col("samp_rank") <= F.col("quota"))
        .select("doc_id", "source", "lang", "samp_rank", "quota")
    )


#: Bound on the (source, gram) partial counts one char_trigram_diversity
#: task holds: past it the kernel emits them and starts over, in Arrow
#: batches of at most this many rows. The downstream (source, gram)
#: sum adds the partials, so a flush changes no result.
TRIGRAM_FLUSH_ROWS = 1 << 18


def char_trigram_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source character-trigram diversity (round 10): total 3-gram
    occurrences, distinct 3-grams, the hottest single gram's count and
    the distinct/total ratio in exact integer ppm — the char-level
    type-token ratio quality filters read beside word-level Zipf/Heaps
    (low diversity or a dominant gram flags boilerplate, encoding
    noise, or generative loops). Case-insensitive over lower(text);
    docs under 3 chars form no gram (the length filter also keeps
    Spark's DESCENDING sequence(1, 0) trap out of the plan).

    Scale shape: gram counting runs in a mapInArrow kernel — one
    Counter per (task, source) over the batch iterator, flushed past
    ``TRIGRAM_FLUSH_ROWS`` partial counts so task memory stays bounded
    (measured 2.3x faster than the explode+agg at sf0.1 AND at the 10x probe,
    2.85 s -> 1.18 s: per-gram UTF8String allocation + hash-agg probes
    cost more than one dict update per gram, and the kernel ships only
    PARTIAL (source, gram, count) rows to the one (source, gram)-keyed
    shuffle — same exact integers). Lowercasing stays IN SPARK so
    text normalisation is engine-side (no Python/JVM Unicode-lowercase
    parity risk); Python slices and F.length both count code points.
    The per-source rollup aggregates the gram-keyed frame, so
    sum/count/max arrive WITHOUT a countDistinct Expand (the measured
    6.9-s pitfall class). All integers; trunc div; exact twin."""
    docs = t(spark, sf, "documents", parallel=True)
    s = docs.select(
        "source", F.lower(F.col("text")).alias("txt")
    ).filter(F.length("txt") >= 3)

    def count_grams(batches):
        import pyarrow as pa
        from collections import Counter
        from itertools import islice

        def flush(acc):
            rows = ((src, g, k) for src, c in acc.items() for g, k in c.items())
            while chunk := list(islice(rows, TRIGRAM_FLUSH_ROWS)):
                out_s, out_g, out_c = zip(*chunk)
                yield pa.record_batch(
                    [
                        pa.array(out_s, type=pa.string()),
                        pa.array(out_g, type=pa.string()),
                        pa.array(out_c, type=pa.int64()),
                    ],
                    names=["source", "g", "pcnt"],
                )

        acc: dict = {}
        for b in batches:
            for src, txt in zip(
                b.column("source").to_pylist(), b.column("txt").to_pylist()
            ):
                acc.setdefault(src, Counter()).update(
                    txt[i : i + 3] for i in range(len(txt) - 2)
                )
                if sum(map(len, acc.values())) > TRIGRAM_FLUSH_ROWS:
                    yield from flush(acc)
                    acc = {}
        yield from flush(acc)

    per = (
        s.mapInArrow(count_grams, "source string, g string, pcnt long")
        .groupBy("source", "g")
        .agg(F.sum("pcnt").alias("cnt"))
    )
    return per.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("cnt").cast("bigint").alias("top_gram_n"),
    ).select(
        "source",
        "n_grams",
        "n_distinct",
        "top_gram_n",
        F.expr("(1000000 * n_distinct) div n_grams")
        .cast("bigint")
        .alias("diversity_ppm"),
    )


#: Misra–Gries summary size for mg_frequent_tokens: undercount bound
#: is n/(MG_K+1) of the total token stream.
MG_K = 32


def mg_frequent_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Misra–Gries frequent-tokens summary (round 10): the classic
    bounded-state heavy-hitters sketch over the exploded token stream
    (operators/sketches.mg_frequent) — 16 deterministic md5 shards of
    exact counts, each pruned to MG_K=32 survivors by the mergeable-
    summaries subtract-(k+1)th rule, merged and pruned once more. The
    one-pass counterpart to the exact pigeonhole heavy hitters
    (heavy_hitter_users): state is k counters per shard no matter the
    stream length, the shape that survives a 100 TB token stream.

    Output joins the summary against exact counts: per surviving
    token, the MG estimate, the exact count, the undercount, and the
    published bound check undercount·(k+1) <= n — deterministically
    TRUE by the Agarwal et al. 2012 merge argument. UNLIKE the
    engine-internal sketches (approx_user_stats), this summary is a
    pure function of the token multiset (value-based prunes, hash
    shards — no arrival-order dependence), so every column full-hash
    oracles.

    Scale shape: one (shard, tok) keyed shuffle bounded by
    shards·vocab, per-shard window prunes over shard vocab, a <= 512-
    row merge, plus the exact-count shuffle for the audit join. No
    driver state beyond the plan.
    """
    from fsc_etl_spark.operators.sketches import mg_frequent

    docs = t(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    summ = mg_frequent(tok, "tok", MG_K, shard_col="doc_id")
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    n = tok.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        summ.join(exact, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "tok",
            F.col("mg_est").cast("bigint").alias("mg_est"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            (F.col("exact_cnt") - F.col("mg_est"))
            .cast("bigint")
            .alias("undercount"),
            (
                (F.col("exact_cnt") - F.col("mg_est")) * (MG_K + 1)
                <= F.col("n_total")
            ).alias("within_bound"),
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bigram_lm_perplexity": bigram_lm_perplexity,
    "char_trigram_diversity": char_trigram_diversity,
    "ccnet_ppl_buckets": ccnet_ppl_buckets,
    "retrieval_ndcg_mrr": retrieval_ndcg_mrr,
    "zipf_rank_frequency": zipf_rank_frequency,
    "source_length_drift": source_length_drift,
    "tokenizer_fertility_stats": tokenizer_fertility_stats,
    "incremental_lsh_dedup": incremental_lsh_dedup,
    "minhash_jaccard_accuracy": minhash_jaccard_accuracy,
    "ngram_novelty_curve": ngram_novelty_curve,
    "stratified_sample_exact": stratified_sample_exact,
    "mg_frequent_tokens": mg_frequent_tokens,
}


# --------------------------------------------------------------------
# DuckDB oracles. Tokenization macro matches retrieval_quality._LT;
# trunc division over possibly-negative operands is CASE-spelled
# (DuckDB // floors, Spark div truncates).
# --------------------------------------------------------------------

_LT = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"


def _tdiv(a: str, b: str) -> str:
    return (
        f"(CASE WHEN {a} >= 0 THEN ({a}) // ({b})"
        f" ELSE -((-({a})) // ({b})) END)"
    )


CORPUS_ORACLES: dict[str, str] = {}

#: Shared LM-scoring CTE chain (train model on the en slice, score
#: every doc) — the bigram_lm_perplexity oracle body, reused by the
#: ccnet_ppl_buckets oracle and (verbatim, whole-oracle) by the
#: streaming_ppl_gate whose converged state equals the batch rows.
_LM_CHAIN = f"""toks AS (
  SELECT doc_id, lang, {_LT} AS tk FROM documents
),
grams AS (
  SELECT doc_id, lang, g, split_part(g, ' ', 1) AS w1
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS g
    FROM toks
  )
),
model AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS c2
  FROM grams WHERE lang = 'en' GROUP BY g
),
hist AS (
  SELECT split_part(g, ' ', 1) AS hw, CAST(SUM(c2) AS BIGINT) AS c1
  FROM model GROUP BY 1
),
vv AS (
  SELECT CAST(COUNT(DISTINCT tok) + 1 AS BIGINT) AS v
  FROM (SELECT unnest(tk) AS tok FROM toks WHERE lang = 'en')
),
mscore AS (
  SELECT m.g,
         CAST(floor(1000000.0 * ln(
           CAST(m.c2 + 1 AS DOUBLE) / CAST(h.c1 + vv.v AS DOUBLE)
         )) AS BIGINT) AS s2
  FROM model m JOIN hist h ON h.hw = split_part(m.g, ' ', 1)
  CROSS JOIN vv
),
hscore AS (
  SELECT hw,
         CAST(floor(1000000.0 * ln(
           1.0 / CAST(c1 + vv.v AS DOUBLE)
         )) AS BIGINT) AS s1
  FROM hist CROSS JOIN vv
),
scored AS (
  SELECT grams.doc_id,
         COALESCE(ms.s2, hs.s1,
           CAST(floor(1000000.0 * ln(1.0 / (SELECT CAST(v AS DOUBLE) FROM vv))) AS BIGINT)
         ) AS s
  FROM grams
  LEFT JOIN mscore ms ON ms.g = grams.g
  LEFT JOIN hscore hs ON hs.hw = grams.w1
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(-s) AS BIGINT) AS nll_e6
  FROM scored GROUP BY doc_id
)"""

CORPUS_ORACLES["bigram_lm_perplexity"] = f"""
WITH {_LM_CHAIN}
SELECT d.doc_id, d.lang,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.nll_e6, 0) AS BIGINT) AS nll_e6,
       CAST(CASE WHEN p.n_bigrams > 0 THEN p.nll_e6 // p.n_bigrams END AS BIGINT) AS avg_nll_e6,
       COALESCE(p.n_bigrams > 0 AND p.nll_e6 // p.n_bigrams <= {PPL_GATE_E6}, FALSE) AS kept
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

# Thresholds by the INDEPENDENT sorted-row-number construction (the
# Spark plan uses the histogram + cumulative-window decomposition —
# not a twin).
CORPUS_ORACLES["ccnet_ppl_buckets"] = f"""
WITH {_LM_CHAIN},
avg AS (
  SELECT doc_id, nll_e6 // n_bigrams AS a
  FROM per_doc WHERE n_bigrams > 0
),
ranked AS (
  SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rn, COUNT(*) OVER () AS n
  FROM avg
),
thr AS (
  SELECT MIN(CASE WHEN rn = (333 * (n - 1)) // 1000 + 1 THEN a END) AS t_head,
         MIN(CASE WHEN rn = (667 * (n - 1)) // 1000 + 1 THEN a END) AS t_mid
  FROM ranked
)
SELECT d.doc_id, d.lang,
       CAST(av.a AS BIGINT) AS avg_nll_e6,
       CASE WHEN av.a IS NULL THEN NULL
            WHEN av.a <= thr.t_head THEN 'head'
            WHEN av.a <= thr.t_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d
LEFT JOIN avg av USING (doc_id)
CROSS JOIN thr
"""

CORPUS_ORACLES["tokenizer_fertility_stats"] = rf"""
WITH per AS (
  SELECT lang,
         CAST(len({_LT}) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
         CAST(length(text) AS BIGINT) AS ch
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(bpe) AS BIGINT) AS n_bpe,
       CAST(SUM(ch) AS BIGINT) AS n_chars,
       CAST(CASE WHEN SUM(w) > 0 THEN (1000000 * SUM(bpe)) // SUM(w) END AS BIGINT) AS fertility_ppm,
       CAST(CASE WHEN SUM(bpe) > 0 THEN (1000000 * SUM(ch)) // SUM(bpe) END AS BIGINT) AS chars_per_tok_ppm
FROM per GROUP BY lang
"""


def _incremental_lsh_oracle() -> str:
    """Built lazily: reuses the audited minhash/shingle SQL macros
    from oracles_training (import deferred — that module generates
    fixture-trained oracles on some access paths)."""
    from fsc_etl_spark.plans.oracles_training import _minhash_cols, _SHINGLES

    return f"""
WITH {_SHINGLES},
sigs AS (
  SELECT doc_id,
{_minhash_cols(8)}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS band_sig FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_old, b.doc_id AS id_new
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
  WHERE b.doc_id % 2 = 1 AND a.doc_id <> b.doc_id
    AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_old, p.id_new, COUNT(*) AS i
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_old
  JOIN sh sb ON sb.doc_id = p.id_new AND sb.sh = sa.sh
  GROUP BY 1, 2
),
verd AS (
  SELECT p.id_new,
         (1000000 * COALESCE(i.i, 0))
           // (za.sz + zb.sz - COALESCE(i.i, 0)) AS jacc_ppm,
         p.id_old
  FROM pairs p
  LEFT JOIN inter i ON i.id_old = p.id_old AND i.id_new = p.id_new
  JOIN sizes za ON za.doc_id = p.id_old
  JOIN sizes zb ON zb.doc_id = p.id_new
),
per_new AS (
  SELECT id_new, CAST(COUNT(*) AS BIGINT) AS n_cand,
         MIN(CASE WHEN jacc_ppm >= {DUP_JACCARD_PPM} THEN id_old END) AS dup_of
  FROM verd GROUP BY id_new
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(p.dup_of AS BIGINT) AS dup_of,
       p.dup_of IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN per_new p ON p.id_new = d.doc_id
"""


CORPUS_ORACLES["incremental_lsh_dedup"] = _incremental_lsh_oracle()

# range(1, n) is EXCLUSIVE in DuckDB, so range(1, length-1) enumerates
# the same 1..length-2 starts Spark's inclusive sequence(1, length-2)
# does; both engines' substring is character-indexed.
CORPUS_ORACLES["char_trigram_diversity"] = """
WITH s AS (
  SELECT source, lower(text) AS txt FROM documents WHERE length(text) >= 3
),
g AS (
  SELECT source,
         unnest(list_transform(range(1, length(txt) - 1),
                i -> substring(txt, CAST(i AS INTEGER), 3))) AS g
  FROM s
),
per AS (
  SELECT source, g, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(cnt) AS BIGINT) AS top_gram_n,
       CAST((1000000 * COUNT(*)) // SUM(cnt) AS BIGINT) AS diversity_ppm
FROM per GROUP BY source
"""

_NDCG_W_SQL = ", ".join(str(w) for w in _NDCG_W)
_NDCG_P_SQL = ", ".join(str(p) for p in _NDCG_P)

CORPUS_ORACLES["retrieval_ndcg_mrr"] = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
ranked AS (
  SELECT query_id, vec_id, label, qlabel, rank FROM (
    SELECT q.vec_id AS query_id, e.vec_id, e.label, q.label AS qlabel,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
             e.vec_id) AS rank
    FROM e, (SELECT * FROM e WHERE vec_id < 5) q
    WHERE e.vec_id <> q.vec_id
  ) WHERE rank <= 10
),
wt(rank, w) AS (SELECT unnest(range(1, 11)), unnest([{_NDCG_W_SQL}])),
pf(k, p) AS (SELECT unnest(range(0, 11)), unnest([{_NDCG_P_SQL}])),
per_q AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
         MIN(CASE WHEN label = qlabel THEN rank END) AS first_rank,
         CAST(SUM(CASE WHEN label = qlabel THEN wt.w ELSE 0 END) AS BIGINT) AS dcg_e9
  FROM ranked JOIN wt USING (rank)
  GROUP BY query_id
),
lab_tot AS (SELECT label, COUNT(*) AS n_lab FROM e GROUP BY label),
base AS (
  SELECT q.vec_id AS query_id, CAST(lt.n_lab - 1 AS BIGINT) AS n_rel
  FROM (SELECT vec_id, label FROM e WHERE vec_id < 5) q
  JOIN lab_tot lt ON lt.label = q.label
)
SELECT b.query_id, b.n_rel,
       CAST(COALESCE(p.hits10, 0) AS BIGINT) AS hits10,
       CAST(p.first_rank AS INT) AS first_rank,
       CAST(COALESCE(1000000000 // p.first_rank, 0) AS BIGINT) AS mrr_e9,
       CAST(COALESCE(p.dcg_e9, 0) AS BIGINT) AS dcg_e9,
       CAST((SELECT pf.p FROM pf WHERE pf.k = LEAST(b.n_rel, 10)) AS BIGINT) AS idcg_e9,
       CAST(CASE WHEN (SELECT pf.p FROM pf WHERE pf.k = LEAST(b.n_rel, 10)) > 0
                 THEN (1000000 * COALESCE(p.dcg_e9, 0))
                      // (SELECT pf.p FROM pf WHERE pf.k = LEAST(b.n_rel, 10))
            END AS BIGINT) AS ndcg_ppm
FROM base b LEFT JOIN per_q p USING (query_id)
"""

CORPUS_ORACLES["zipf_rank_frequency"] = f"""
WITH tok AS (SELECT unnest({_LT}) AS tok FROM documents),
freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY tok
  ORDER BY freq DESC, tok LIMIT 1000
),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
  FROM freq
),
pts AS (
  SELECT CAST(floor(1000.0 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1000.0 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts
)
SELECT n_points,
       CAST(n_points * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_points * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(CASE WHEN n_points * sxx - sx * sx > 0
                 THEN {_tdiv('1000 * (n_points * sxy - sx * sy)', 'n_points * sxx - sx * sx')}
            END AS BIGINT) AS slope_milli
FROM s
"""

CORPUS_ORACLES["source_length_drift"] = """
WITH nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
src_b AS (
  SELECT source, LEAST(n_chars // 100, 19) AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
),
all_b AS (
  SELECT LEAST(n_chars // 100, 19) AS b, CAST(COUNT(*) AS BIGINT) AS cnt_all
  FROM documents GROUP BY 1
),
grid AS (
  SELECT s.source, s.n_docs, r.b
  FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source) s,
       (SELECT unnest(range(0, 20)) AS b) r
),
joined AS (
  SELECT g.source, g.n_docs,
         ABS((1000000 * COALESCE(sb.cnt, 0)) // g.n_docs
             - (1000000 * COALESCE(ab.cnt_all, 0)) // nall.n) AS dev
  FROM grid g
  LEFT JOIN src_b sb ON sb.source = g.source AND sb.b = g.b
  LEFT JOIN all_b ab ON ab.b = g.b
  CROSS JOIN nall
)
SELECT source,
       CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(dev) AS BIGINT) AS l1_ppm,
       CAST(MAX(dev) AS BIGINT) AS max_dev_ppm
FROM joined GROUP BY source
"""


def _minhash_accuracy_oracle() -> str:
    """MinHash estimator audit twin: the audited shingle/minhash/band
    macros (oracles_training) rebuild signatures and candidate pairs;
    slot-match count · 125000 is the ppm estimate; exact Jaccard from
    the same distinct-shingle sets."""
    from fsc_etl_spark.plans.oracles_training import _SHINGLES, _minhash_cols

    match_sum = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
WITH {_SHINGLES},
sigs AS (
  SELECT doc_id,
{_minhash_cols(8)}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS band_sig FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT p.id_a, p.id_b,
         CAST(({match_sum}) * 125000 AS BIGINT) AS sig_est_ppm
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.id_a
  JOIN sigs b ON b.doc_id = p.id_b
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS i
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.sh = sa.sh
  GROUP BY 1, 2
)
SELECT e.id_a, e.id_b, e.sig_est_ppm,
       CAST((1000000 * COALESCE(i.i, 0))
            // (za.sz + zb.sz - COALESCE(i.i, 0)) AS BIGINT) AS jacc_ppm,
       CAST(ABS(e.sig_est_ppm
            - (1000000 * COALESCE(i.i, 0))
              // (za.sz + zb.sz - COALESCE(i.i, 0))) AS BIGINT) AS err_ppm
FROM est e
LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN sizes za ON za.doc_id = e.id_a
JOIN sizes zb ON zb.doc_id = e.id_b
"""


CORPUS_ORACLES["minhash_jaccard_accuracy"] = _minhash_accuracy_oracle()

CORPUS_ORACLES["ngram_novelty_curve"] = """
WITH words AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
dg AS (
  SELECT DISTINCT LEAST((10 * doc_id) // n.n + 1, 10) AS dec, g
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                  i -> array_to_string(w[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' '))) AS g
    FROM words WHERE len(w) >= 3
  ) CROSS JOIN n
),
touched AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS touched_grams FROM dg GROUP BY 1),
firsts AS (SELECT g, MIN(dec) AS dec FROM dg GROUP BY 1),
nw AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS new_grams FROM firsts GROUP BY 1),
grid AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS decile)
SELECT grid.decile,
       CAST(COALESCE(t.touched_grams, 0) AS BIGINT) AS touched_grams,
       CAST(COALESCE(nw.new_grams, 0) AS BIGINT) AS new_grams,
       CAST(CASE WHEN COALESCE(t.touched_grams, 0) = 0 THEN NULL
            ELSE (1000000 * COALESCE(nw.new_grams, 0)) // t.touched_grams
            END AS BIGINT) AS novelty_ppm,
       CAST(SUM(COALESCE(nw.new_grams, 0))
              OVER (ORDER BY grid.decile) AS BIGINT) AS cum_new_grams
FROM grid
LEFT JOIN touched t ON t.dec = grid.decile
LEFT JOIN nw ON nw.dec = grid.decile
"""

CORPUS_ORACLES["stratified_sample_exact"] = f"""
WITH strata AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source, lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM strata),
alloc AS (
  SELECT source, lang, n_docs,
         ({STRATIFIED_BUDGET} * n_docs) // n_total AS q_floor,
         ({STRATIFIED_BUDGET} * n_docs) % n_total AS rem
  FROM strata CROSS JOIN tot
),
quotas AS (
  SELECT source, lang,
         CAST(q_floor + (CASE WHEN ROW_NUMBER()
                OVER (ORDER BY rem DESC, source, lang)
              <= {STRATIFIED_BUDGET} - SUM(q_floor) OVER ()
              THEN 1 ELSE 0 END) AS BIGINT) AS quota
  FROM alloc
),
ranked AS (
  SELECT doc_id, source, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY source, lang
               ORDER BY md5('strat:' || doc_id), doc_id) AS INT) AS samp_rank
  FROM documents
)
SELECT r.doc_id, r.source, r.lang, r.samp_rank, q.quota
FROM ranked r JOIN quotas q USING (source, lang)
WHERE r.samp_rank <= q.quota
"""

# Misra–Gries frequent tokens: full replay of the two-level prune —
# same md5 shards, same value-based subtract-(k+1)th rule under the
# same (cnt DESC, tok ASC) total order, so the summary itself (not
# just its guarantee booleans) hash-matches.
CORPUS_ORACLES["mg_frequent_tokens"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LT}) AS tok FROM documents
),
sharded AS (
  SELECT CAST(('0x' || substr(md5('mg:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {MG_SHARDS} AS shard,
         tok
  FROM tok
),
pc AS (
  SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sharded GROUP BY shard, tok
),
pt AS (
  SELECT shard, cnt AS t FROM (
    SELECT shard, cnt,
           ROW_NUMBER() OVER (PARTITION BY shard
                              ORDER BY cnt DESC, tok ASC) AS rn
    FROM pc
  ) WHERE rn = {MG_K + 1}
),
ps AS (
  SELECT pc.tok, pc.cnt - COALESCE(pt.t, 0) AS est
  FROM pc LEFT JOIN pt USING (shard)
  WHERE pc.cnt - COALESCE(pt.t, 0) > 0
),
mg AS (SELECT tok, CAST(SUM(est) AS BIGINT) AS cnt FROM ps GROUP BY tok),
gt AS (
  SELECT cnt AS t FROM (
    SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rn FROM mg
  ) WHERE rn = {MG_K + 1}
),
summ AS (
  SELECT tok, cnt - COALESCE((SELECT t FROM gt), 0) AS mg_est
  FROM mg
  WHERE cnt - COALESCE((SELECT t FROM gt), 0) > 0
),
exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok)
SELECT s.tok,
       CAST(s.mg_est AS BIGINT) AS mg_est,
       e.exact_cnt,
       CAST(e.exact_cnt - s.mg_est AS BIGINT) AS undercount,
       ((e.exact_cnt - s.mg_est) * {MG_K + 1} <= n.n_total) AS within_bound
FROM summ s JOIN exact e USING (tok) CROSS JOIN n
"""
