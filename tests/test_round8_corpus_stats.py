"""Independent (non-twin) references for the round-8 corpus-stats /
retrieval-eval queries (plans/corpus_stats.py).

Each test recomputes the query from its PUBLISHED definition in plain
Python (dict counting, sorted sweeps, math.log) over the raw fixture
rows — no Spark/DuckDB expression machinery shared with the plan or
its oracle — and requires exact agreement. The boundary-audit test
measures every ln-quantized model value's distance to its floor
boundary (the only cross-engine float hazard in the module).
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

from fsc_etl_spark.plans.corpus_stats import PPL_GATE_E6, QUERIES
from fsc_etl_spark.sources.readers import read_parquet_table


def _toks(text: str) -> list[str]:
    return [x for x in re.split(r"\s+", text.strip().lower()) if x]


def _trunc(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _lm_model(docs: list):
    """Add-one bigram LM trained on the lang='en' slice: returns
    (bigram scores, history scores, V, default score) in micro-nats."""
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    vocab: set[str] = set()
    for d in docs:
        if d.lang != "en":
            continue
        tk = _toks(d.text)
        vocab.update(tk)
        for a, b in zip(tk, tk[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    v = len(vocab) + 1
    s2 = {
        g: math.floor(1e6 * math.log((c + 1) / (c1[g[0]] + v)))
        for g, c in c2.items()
    }
    s1 = {w: math.floor(1e6 * math.log(1.0 / (c + v))) for w, c in c1.items()}
    s0 = math.floor(1e6 * math.log(1.0 / v))
    return s2, s1, v, s0


def test_bigram_lm_perplexity_against_reference(spark, sf_smoke):
    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    s2, s1, _, s0 = _lm_model(docs)
    expect = {}
    for d in docs:
        tk = _toks(d.text)
        grams = list(zip(tk, tk[1:]))
        nll = sum(-(s2.get(g, s1.get(g[0], s0))) for g in grams)
        n = len(grams)
        avg = nll // n if n else None  # operands >= 0: floor == trunc
        expect[d.doc_id] = (
            d.lang,
            n,
            nll,
            avg,
            bool(n and avg <= PPL_GATE_E6),
        )
    got = QUERIES["bigram_lm_perplexity"](spark, sf_smoke).collect()
    assert len(got) == len(expect)
    for r in got:
        assert (
            r.lang,
            r.n_bigrams,
            r.nll_e6,
            r.avg_nll_e6,
            r.kept,
        ) == expect[r.doc_id], r.doc_id


def test_lm_and_zipf_floor_boundaries_have_margin(spark, sf_correct):
    """The only float op in corpus_stats.py is one ln per MODEL row,
    floored onto an integer grid. Cross-engine ln noise is <= 1 ulp
    (~1e-9 at these magnitudes after the 1e6/1e3 scaling); assert
    every quantized value sits >= 1e-3 grid units away from its floor
    boundary so no row can flip engines. (Exact-zero ln(1) rows are
    exempt: ln(1) == 0.0 exactly in every IEEE libm.)"""
    docs = read_parquet_table(spark, sf_correct, "documents").collect()
    s2c, s1c, v, _ = _lm_model(docs)
    vals = []
    # re-derive the raw (unfloored) model values
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    for d in docs:
        if d.lang != "en":
            continue
        tk = _toks(d.text)
        for a, b in zip(tk, tk[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    vals += [1e6 * math.log((c + 1) / (c1[a] + v)) for (a, _b), c in c2.items()]
    vals += [1e6 * math.log(1.0 / (c + v)) for c in c1.values()]
    vals.append(1e6 * math.log(1.0 / v))
    # zipf points: top-1000 (rank, freq) milli-nat quantizations
    freq: dict[str, int] = {}
    for d in docs:
        for tname in _toks(d.text):
            freq[tname] = freq.get(tname, 0) + 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    for rank, (_, f) in enumerate(top, 1):
        vals += [1e3 * math.log(rank), 1e3 * math.log(f)]
    margin = min(
        min(x - math.floor(x), math.floor(x) + 1 - x)
        for x in vals
        if x != 0.0
    )
    assert margin >= 1e-3, margin


def _r6(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def test_retrieval_ndcg_mrr_against_reference(spark, sf_smoke):
    rows = read_parquet_table(spark, sf_smoke, "embeddings").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    w = [round(1e9 / math.log2(r + 1)) for r in range(1, 11)]
    pfx = [0] + [sum(w[:k]) for k in range(1, 11)]
    expect = {}
    for q in (i for i in vecs if i < 5):
        qv = vecs[q]
        qn = math.sqrt(sum(x * x for x in qv))
        scored = []
        for i, cv in vecs.items():
            if i == q:
                continue
            cn = math.sqrt(sum(x * x for x in cv))
            cos = sum(a * b for a, b in zip(qv, cv)) / (qn * cn)
            scored.append((-_r6(cos), i))
        scored.sort()
        top = [i for _, i in scored[:10]]
        rel = [1 if labels[i] == labels[q] else 0 for i in top]
        hits = sum(rel)
        first = next((r + 1 for r, x in enumerate(rel) if x), None)
        dcg = sum(w[r] for r, x in enumerate(rel) if x)
        n_rel = sum(1 for i in vecs if i != q and labels[i] == labels[q])
        idcg = pfx[min(n_rel, 10)]
        expect[q] = (
            n_rel,
            hits,
            first,
            (1_000_000_000 // first) if first else 0,
            dcg,
            idcg,
            (1_000_000 * dcg) // idcg if idcg > 0 else None,
        )
    got = QUERIES["retrieval_ndcg_mrr"](spark, sf_smoke).collect()
    assert len(got) == len(expect)
    for r in got:
        assert (
            r.n_rel,
            r.hits10,
            r.first_rank,
            r.mrr_e9,
            r.dcg_e9,
            r.idcg_e9,
            r.ndcg_ppm,
        ) == expect[r.query_id], r.query_id


def test_zipf_rank_frequency_against_reference(spark, sf_smoke):
    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    freq: dict[str, int] = {}
    for d in docs:
        for tname in _toks(d.text):
            freq[tname] = freq.get(tname, 0) + 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    pts = [
        (
            math.floor(1e3 * math.log(rank)),
            math.floor(1e3 * math.log(f)),
        )
        for rank, (_, f) in enumerate(top, 1)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    slope = _trunc(1000 * num, den) if den > 0 else None
    got = QUERIES["zipf_rank_frequency"](spark, sf_smoke).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_points, r.slope_num, r.slope_den, r.slope_milli) == (
        n,
        num,
        den,
        slope,
    )
    # a Zipf-shaped corpus has a clearly negative log-log slope
    assert r.slope_milli < 0


def test_source_length_drift_against_reference(spark, sf_smoke):
    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    n_all = len(docs)
    per_src: dict[str, list[int]] = {}
    all_b = [0] * 20
    for d in docs:
        b = min(d.n_chars // 100, 19)
        per_src.setdefault(d.source, [0] * 20)[b] += 1
        all_b[b] += 1
    expect = {}
    for src, hist in per_src.items():
        n_src = sum(hist)
        devs = [
            abs(
                (1_000_000 * hist[b]) // n_src
                - (1_000_000 * all_b[b]) // n_all
            )
            for b in range(20)
        ]
        expect[src] = (n_src, sum(devs), max(devs))
    got = QUERIES["source_length_drift"](spark, sf_smoke).collect()
    assert len(got) == len(expect)
    for r in got:
        assert (r.n_docs, r.l1_ppm, r.max_dev_ppm) == expect[r.source], r.source


def test_ccnet_ppl_buckets_against_reference(spark, sf_smoke):
    """Independent construction: full sort of the avg-NLL multiset +
    lower-nearest-rank pick in plain Python (the Spark plan uses the
    histogram decomposition; the oracle uses SQL row_number — this is
    the third, list-based construction)."""
    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    s2, s1, _, s0 = _lm_model(docs)
    avg = {}
    for d in docs:
        tk = _toks(d.text)
        grams = list(zip(tk, tk[1:]))
        if grams:
            nll = sum(-(s2.get(g, s1.get(g[0], s0))) for g in grams)
            avg[d.doc_id] = nll // len(grams)
    vals = sorted(avg.values())
    n = len(vals)
    t_head = vals[(333 * (n - 1)) // 1000]
    t_mid = vals[(667 * (n - 1)) // 1000]
    got = QUERIES["ccnet_ppl_buckets"](spark, sf_smoke).collect()
    assert len(got) == len(docs)
    n_head = 0
    for r in got:
        if r.doc_id not in avg:
            assert r.avg_nll_e6 is None and r.bucket is None, r.doc_id
            continue
        a = avg[r.doc_id]
        expect = "head" if a <= t_head else ("middle" if a <= t_mid else "tail")
        assert (r.avg_nll_e6, r.bucket) == (a, expect), r.doc_id
        n_head += expect == "head"
    # the split actually trisects (not degenerate on the fixture)
    assert 0 < n_head < len(avg)


def test_tokenizer_fertility_stats_against_reference(spark, sf_smoke):
    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    per: dict[str, list[int]] = {}
    bpe_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    for d in docs:
        w = len(_toks(d.text))
        b = len(bpe_re.findall(d.text))
        c = len(d.text)
        agg = per.setdefault(d.lang, [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += w
        agg[2] += b
        agg[3] += c
    got = QUERIES["tokenizer_fertility_stats"](spark, sf_smoke).collect()
    assert len(got) == len(per)
    for r in got:
        nd, w, b, c = per[r.lang]
        assert (r.n_docs, r.n_words, r.n_bpe, r.n_chars) == (nd, w, b, c), r.lang
        assert r.fertility_ppm == ((1_000_000 * b) // w if w else None)
        assert r.chars_per_tok_ppm == ((1_000_000 * c) // b if b else None)


def test_incremental_lsh_dedup_against_reference(spark, sf_smoke):
    """Plain-Python MinHash + banding + exact Jaccard sweep from the
    published LSH construction (hashlib md5, dict buckets)."""
    import hashlib

    docs = read_parquet_table(spark, sf_smoke, "documents").collect()
    sh: dict[int, set] = {}
    for d in docs:
        tk = _toks(d.text)
        sh[d.doc_id] = {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
    sigs = {}
    for i, s in sh.items():
        if not s:
            continue
        sig = []
        for j in range(4):
            hexes = [hashlib.md5(f"s{j}:{x}".encode()).hexdigest() for x in s]
            sig.append(min(h[0:16] for h in hexes))
            sig.append(min(h[16:32] for h in hexes))
        sigs[i] = sig
    buckets: dict[tuple, list] = {}
    for i, sig in sigs.items():
        for b in range(4):
            key = (
                b,
                hashlib.md5(
                    f"{sig[2 * b]}|{sig[2 * b + 1]}".encode()
                ).hexdigest(),
            )
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for ids in buckets.values():
        for a in ids:
            for b in ids:
                if b % 2 == 1 and a != b and (a % 2 == 0 or a < b):
                    pairs.add((a, b))
    expect = {}
    for d in docs:
        if d.doc_id % 2 == 1:
            expect[d.doc_id] = [0, None]
    for a, b in pairs:
        inter = len(sh[a] & sh[b])
        jacc_ppm = (1_000_000 * inter) // (len(sh[a]) + len(sh[b]) - inter)
        expect[b][0] += 1
        if jacc_ppm >= 600_000 and (expect[b][1] is None or a < expect[b][1]):
            expect[b][1] = a
    got = QUERIES["incremental_lsh_dedup"](spark, sf_smoke).collect()
    assert len(got) == len(expect)
    for r in got:
        n_cand, dup_of = expect[r.doc_id]
        assert (r.n_cand, r.dup_of, r.is_dup) == (
            n_cand,
            dup_of,
            dup_of is not None,
        ), r.doc_id


def test_incremental_lsh_dedup_shuffle_fallback_identical(spark, sf_smoke):
    """The size-guarded broadcast (VERDICT r8): forcing the
    oversized-candidate path (broadcast_pair_limit=0 -> shuffled semi
    join) must produce bit-identical results to the broadcast path —
    the guard changes the physical strategy only."""
    from fsc_etl_spark.operators.dedup import minhash_signatures
    from fsc_etl_spark.plans.corpus_stats import _incremental_lsh_dedup_impl

    key = lambda r: r.doc_id  # noqa: E731
    base = sorted(QUERIES["incremental_lsh_dedup"](spark, sf_smoke).collect(), key=key)
    fallback = sorted(
        _incremental_lsh_dedup_impl(
            spark, sf_smoke, minhash_signatures, broadcast_pair_limit=0
        ).collect(),
        key=key,
    )
    assert base == fallback


def test_char_trigram_flush_matches_oracle(spark, sf_smoke, monkeypatch):
    """A tiny flush bound makes every kernel task emit its partial
    (source, gram) counts many times, in batches capped at the bound;
    the downstream sum adds them back, so the query still equals its
    oracle."""
    from fsc_etl_spark.plans import corpus_stats
    from fsc_etl_spark.testing import check_query

    monkeypatch.setattr(corpus_stats, "TRIGRAM_FLUSH_ROWS", 50)
    check_query(spark, sf_smoke, "char_trigram_diversity")
