"""DuckDB oracles for plans.training_data.

Shared SQL fragments mirror functions/text.py building blocks exactly:
- tokens:   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')
- shingles: 1-based inclusive list slices over a lateral range join
- hashes:   md5 (identical across engines), hex→int via '0x' cast
"""

from __future__ import annotations

import functools as _functools
import math
import os as _os
import typing as _t

from fsc_etl_spark.functions.text import LANG_ORDER, LANG_STOPWORDS

TRAINING_ORACLES: dict[str, str] = {}

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"


def _in_list(words: list[str]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


TRAINING_ORACLES["text_token_stats"] = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

TRAINING_ORACLES["text_quality"] = f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_in_list(LANG_STOPWORDS["en"])}))) AS BIGINT) AS n_stop,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_punct, n_stop,
       ROUND(
         (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
         + (CASE WHEN n_punct / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN n_stop / GREATEST(n_tokens, 1) > 0 THEN 0.25 ELSE 0.0 END), 2) AS quality
FROM s
"""

_VOTES = ",\n".join(
    f"         CAST(len(list_filter({_TOKS}, x -> x IN ({_in_list(LANG_STOPWORDS[lang])}))) AS BIGINT) AS v_{lang}"
    for lang in LANG_ORDER
)
_MAXV = "GREATEST(" + ", ".join(f"v_{lang}" for lang in LANG_ORDER) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(f"WHEN v_{lang} = {_MAXV} AND {_MAXV} > 0 THEN '{lang}'" for lang in LANG_ORDER)
    + " ELSE 'und' END"
)

TRAINING_ORACLES["lang_id_heuristic"] = f"""
WITH v AS (
  SELECT doc_id, lang,
{_VOTES}
  FROM documents
)
SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM v
"""

TRAINING_ORACLES["doc_fingerprint"] = """
SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
"""

# Language-ID classifier quality: confusion marginals per declared
# language + exact integer-ppm precision/recall/F1 (floor div, NULL
# when the denominator is 0 — a lang never predicted). Reuses the
# lang_id vote fragment above.
TRAINING_ORACLES["lang_pred_quality"] = f"""
WITH v AS (
  SELECT doc_id, lang,
{_VOTES}
  FROM documents
),
p AS (SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM v),
tm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true FROM p GROUP BY lang),
pm AS (SELECT lang_pred AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred FROM p GROUP BY lang_pred),
cm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_correct FROM p
       WHERE lang = lang_pred GROUP BY lang)
SELECT tm.lang, tm.n_true,
       CAST(COALESCE(pm.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(cm.n_correct, 0) AS BIGINT) AS n_correct,
       CAST(CASE WHEN COALESCE(pm.n_pred, 0) = 0 THEN NULL
            ELSE (1000000 * COALESCE(cm.n_correct, 0)) // pm.n_pred END AS BIGINT)
         AS precision_ppm,
       CAST((1000000 * COALESCE(cm.n_correct, 0)) // tm.n_true AS BIGINT)
         AS recall_ppm,
       CAST(CASE WHEN tm.n_true + COALESCE(pm.n_pred, 0) = 0 THEN NULL
            ELSE (2000000 * COALESCE(cm.n_correct, 0))
                 // (tm.n_true + COALESCE(pm.n_pred, 0)) END AS BIGINT) AS f1_ppm
FROM tm LEFT JOIN pm USING (lang) LEFT JOIN cm USING (lang)
"""

TRAINING_ORACLES["dedup_exact_groups"] = """
SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""

# Word 3-gram shingles: starts 1..len-2 via SCALAR range() (DuckDB's
# range table function can't take correlated columns; the scalar form
# returns a list, stop-exclusive; list slices are 1-based inclusive).
# DISTINCT matches the Spark side's dropDuplicates.
_SHINGLES = f"""
  words AS (SELECT doc_id, {_TOKS.replace("trim(text)", "trim(lower(text))")} AS w FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, sh FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
                    i -> array_to_string(w[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' '))) AS sh
      FROM words WHERE len(w) >= 3
    )
  )
"""


def _minhash_cols(k: int) -> str:
    # Mirrors operators/dedup._paired_min_exprs: md5 j yields slots
    # 2j (hex chars 1-16) and 2j+1 (chars 17-32).
    lines = []
    for i in range(k):
        j, half = divmod(i, 2)
        start = 1 if half == 0 else 17
        lines.append(f"       MIN(substr(md5('s{j}:' || sh), {start}, 16)) AS mh{i}")
    return ",\n".join(lines)


TRAINING_ORACLES["minhash_signature"] = f"""
WITH {_SHINGLES}
SELECT doc_id,
{_minhash_cols(4)}
FROM sh GROUP BY doc_id
"""

TRAINING_ORACLES["lsh_near_dup_candidates"] = f"""
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
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
WHERE a.doc_id < b.doc_id
"""

TRAINING_ORACLES["ngram_jaccard_pairs"] = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= 0.8
"""

_H = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
_SIMHASH_BITS = 60  # matches operators/dedup.py simhash_sig default
_VOTE_COLS = ",\n".join(
    f"         SUM(((({_H}) >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(_SIMHASH_BITS)
)
_SIG = " + ".join(
    f"CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END" for i in range(_SIMHASH_BITS)
)

TRAINING_ORACLES["simhash_signature"] = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
),
votes AS (
  SELECT doc_id,
{_VOTE_COLS}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({_SIG} AS BIGINT) AS simhash FROM votes
"""

TRAINING_ORACLES["simhash_neardup_pairs"] = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
),
votes AS (
  SELECT doc_id,
{_VOTE_COLS}
  FROM toks GROUP BY doc_id
),
sigs AS (SELECT doc_id, CAST({_SIG} AS BIGINT) AS simhash FROM votes),
bands AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (band_idx * 15)) & 32767 AS band_val
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_idx)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""

# Shared CTE chain: MinHash-LSH candidate pairs → transitive closure →
# per-doc cluster root. Used by dedup_cluster_assign (labels) and
# cluster_canonical_doc (survivorship on top of the labels).
_CLUSTERS_CTE = f"""{_SHINGLES},
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
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION
  SELECT id_b AS src, id_a AS dst FROM cand
),
reach AS (
  SELECT doc_id AS id, doc_id AS root FROM documents
  UNION
  SELECT e.dst AS id, r.root AS root
  FROM reach r JOIN edges e ON e.src = r.id
),
clusters AS (
  SELECT id AS doc_id, MIN(root) AS cluster_root FROM reach GROUP BY id
)"""

TRAINING_ORACLES["dedup_cluster_assign"] = f"""
WITH RECURSIVE {_CLUSTERS_CTE}
SELECT doc_id, cluster_root FROM clusters
"""

# Soft dedup: the clusters CTE + a size aggregate + the deterministic
# hash*size < 65536 keep rule (same '0x'||substr(md5) idiom the
# mixture resampler oracle uses; Spark's conv(...,16,10) parses the
# identical lowercase hex).
TRAINING_ORACLES["cluster_soft_dedup_sample"] = f"""
WITH RECURSIVE {_CLUSTERS_CTE},
sizes AS (
  SELECT cluster_root, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY cluster_root
)
SELECT c.doc_id, c.cluster_root, s.cluster_size,
       (CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        * s.cluster_size < 65536) AS kept
FROM clusters c JOIN sizes s USING (cluster_root)
"""

# Leakage-safe cluster-aware split: the clusters CTE + the
# hash_split_counts md5-bucket rule applied to the CLUSTER root, with
# the per-doc rule kept alongside for the moved/torn audit columns.
_SPLIT_OF = (
    "CASE WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 2) < 'cd' THEN 'train'"
    " WHEN substr(md5(CAST({k} AS VARCHAR)), 1, 2) < 'e6' THEN 'val'"
    " ELSE 'test' END"
)

TRAINING_ORACLES["cluster_leakage_split"] = f"""
WITH RECURSIVE {_CLUSTERS_CTE},
member AS (
  SELECT c.cluster_root,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         {_SPLIT_OF.format(k="c.cluster_root")} AS split,
         {_SPLIT_OF.format(k="c.doc_id")} AS doc_split
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
),
per_cluster AS (
  SELECT cluster_root, split,
         COUNT(*) AS c_docs,
         SUM(n_tokens) AS c_tokens,
         SUM(CASE WHEN doc_split <> split THEN 1 ELSE 0 END) AS c_moved,
         COUNT(DISTINCT doc_split) AS c_splits
  FROM member GROUP BY cluster_root, split
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(c_docs) AS BIGINT) AS n_docs,
       CAST(SUM(c_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(c_moved) AS BIGINT) AS docs_moved,
       CAST(SUM(CASE WHEN c_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS torn_clusters
FROM per_cluster GROUP BY split
"""

_DV = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

TRAINING_ORACLES["embed_cosine_topk"] = f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
  FROM e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
"""

def _weak_label_oracle() -> str:
    """Generated twin of weak_label_agreement: the SAME loop order
    builds the 21 (scope, metric) counters, so scope strings and
    metric names can never drift between engines."""
    from fsc_etl_spark.plans.training_data import _WEAK_LFS

    lf_cols = ", ".join(
        f"CASE WHEN len(list_filter({_TOKS}, x -> x = '{p}'))"
        f" > len(list_filter({_TOKS}, x -> x = '{n}')) THEN 1"
        f" WHEN len(list_filter({_TOKS}, x -> x = '{p}'))"
        f" < len(list_filter({_TOKS}, x -> x = '{n}')) THEN -1"
        f" ELSE 0 END AS {name}"
        for name, p, n in _WEAK_LFS
    )
    names = [name for name, _, _ in _WEAK_LFS]
    total = " + ".join(names)
    counters: list[tuple[str, str, str]] = []
    for name in names:
        counters.append((name, "coverage", f"{name} <> 0"))
        counters.append((name, "n_neg", f"{name} = -1"))
        counters.append((name, "n_pos", f"{name} = 1"))
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b = names[i], names[j]
            scope = f"{a}|{b}"
            both = f"{a} <> 0 AND {b} <> 0"
            counters.append((scope, "n_agree", f"{both} AND {a} = {b}"))
            counters.append((scope, "n_both", both))
            counters.append((scope, "n_conflict", f"{both} AND {a} <> {b}"))
    counters.append(("vote", "n_neg", "vote = -1"))
    counters.append(("vote", "n_pos", "vote = 1"))
    counters.append(("vote", "n_zero", "vote = 0"))
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k, (_, _, cond) in enumerate(counters)
    )
    rows = "\nUNION ALL ".join(
        f"SELECT '{scope}' AS scope, '{metric}' AS metric, c{k} AS value FROM agg"
        for k, (scope, metric, _) in enumerate(counters)
    )
    return f"""
WITH lab AS (SELECT {lf_cols} FROM documents),
v AS (SELECT *, CASE WHEN {total} > 0 THEN 1
                     WHEN {total} < 0 THEN -1 ELSE 0 END AS vote FROM lab),
agg AS (SELECT {sums} FROM v)
{rows}
ORDER BY scope, metric
"""


TRAINING_ORACLES["weak_label_agreement"] = _weak_label_oracle()

# Mirrors maxsim_late_interaction: identical subvector slicing
# (list_slice is 1-based inclusive, matching Spark's slice(start,
# length)), the same ROUND(cos, 6) per pair, MAX over rounded doubles,
# micro quantization, then a pure-BIGINT sum over the 4 query slots.
TRAINING_ORACLES["maxsim_late_interaction"] = f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
subs AS (
  SELECT vec_id, g.i, list_slice(v, g.i * 16 + 1, g.i * 16 + 16) AS sv
  FROM e, (SELECT unnest(generate_series(0, 3)) AS i) g
),
sn AS (SELECT vec_id, i, sv, sqrt(list_dot_product(sv, sv)) AS n FROM subs),
q AS (SELECT vec_id AS query_id, i AS qi, sv AS qv, n AS qn
      FROM sn WHERE vec_id < 5),
best AS (
  SELECT q.query_id, q.qi, c.vec_id,
         CAST(ROUND(MAX(ROUND(list_dot_product(q.qv, c.sv) / (q.qn * c.n), 6))
                    * 1000000, 0) AS BIGINT) AS best_micro
  FROM sn c, q WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, q.qi, c.vec_id
),
scores AS (
  SELECT query_id, vec_id, CAST(SUM(best_micro) AS BIGINT) AS score_micro
  FROM best GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, score_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score_micro DESC, vec_id ASC)
              AS INTEGER) AS rank
  FROM scores
)
SELECT query_id, vec_id, score_micro, rank FROM ranked WHERE rank <= 5
"""

# embed_nn_within_label / dedup_embed_neardup: per-SF trained-codebook
# oracles since round 10 — see SF_ORACLE_GENERATORS below (the static
# label-blocked SQL was retired with the fixed-label blocking).

# Real P6 decode twin: the media is documents_as_ppm_media's 12x8
# canonical P6 (300 bytes = 12-byte header + 288 cycled text bytes).
# 507 is the ord-sum of the header "P6\n12 8\n255\n"; pxsum is the
# ord-sum of the cycled pixel buffer — checksum and every feature
# entry derive from those two integers exactly as the codec does.
# Documents are ASCII, so codepoints == bytes.
TRAINING_ORACLES["multimodal_features"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         substring(repeat(text, CAST(ceil(288.0 / GREATEST(length(text), 1)) AS BIGINT)),
                   1, 288) AS pixbuf
  FROM documents WHERE length(text) > 0
),
s AS (
  SELECT media_id, pixbuf,
         CAST(list_sum(list_transform(range(1, 289),
                i -> ord(substring(pixbuf, CAST(i AS INTEGER), 1)))) AS BIGINT) AS pxsum
  FROM m
)
SELECT media_id,
       'image' AS kind,
       CAST(300 AS BIGINT) AS byte_len,
       CAST((507 + pxsum) % 2147483648 AS BIGINT) AS checksum,
       CAST(12 AS DOUBLE) AS feat_w,
       CAST(8 AS DOUBLE) AS feat_h,
       CAST(pxsum % 1000003 AS DOUBLE) AS feat_pxmod,
       CAST(ord(substring(pixbuf, 1, 1)) AS DOUBLE) AS feat_first
FROM s
"""

# Same simplified GPT-2-ish pre-tokenizer pattern as
# functions/text.py:BPE_TOKEN_RE — constructs chosen to behave
# identically under Java regex (Spark) and RE2 (DuckDB).
TRAINING_ORACLES["text_bpe_tokens"] = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_ws
FROM documents
"""

# Composed curation pipeline: quality gate + language agreement +
# exact-dedup survivorship, reusing the fragments above verbatim.
TRAINING_ORACLES["corpus_curation"] = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_in_list(LANG_STOPWORDS["en"])}))) AS BIGINT) AS n_stop,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
{_VOTES},
         md5(lower(trim(text))) AS fp
  FROM documents
),
scored AS (
  SELECT doc_id, lang, fp,
         ROUND(
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN n_punct / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_stop / GREATEST(n_tokens, 1) > 0 THEN 0.25 ELSE 0.0 END), 2) AS quality,
         {_LANG_CASE} AS lang_pred
  FROM s
),
gated AS (
  SELECT * FROM scored WHERE quality >= 0.75 AND lang_pred = lang
),
keep AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
)
SELECT g.doc_id, g.lang, g.quality, g.fp
FROM gated g JOIN keep k ON g.fp = k.fp AND g.doc_id = k.doc_id
"""

# The pandas/numpy scale path must produce the SAME answer as the
# built-in cosine path — it shares that oracle verbatim.
TRAINING_ORACLES["embed_cosine_topk_pandas"] = TRAINING_ORACLES["embed_cosine_topk"]


def _lsh_oracle() -> str:
    """Full hash oracle for the LSH ANN tier (VERDICT r5 item 5 —
    upgrade a rows-only ANN query to hash-green). Multi-table
    random-hyperplane LSH is deterministic end-to-end given the
    planes: per table t, signature bit i is set where
    dot(v, H_{t,i}) >= 0; candidates share a signature in ANY table;
    distinct candidates re-rank by exact 6dp-rounded cosine with
    vec_id tie-break — all SQL-expressible once the seeded planes are
    inlined as literals (repr round-trips float64 exactly; DuckDB
    parses back the identical double). The ONLY cross-engine hazard
    is a signature-dot sign flip from accumulation-order ulps, and
    that has margin: min |dot(v, H_{t,i})| over every fixture vector
    and plane of the 12x4 set is 1.16e-5 at sf0.01 (3.4e-5 / 1.8e-5
    at sf0.001 / sf0.1) — 8+ orders above ulp noise, so
    list_dot_product's sign always agrees with Spark's sequential
    fold on these fixtures.
    """
    from fsc_etl_spark.plans.training_data import LSH_TABLES

    planes = ",\n  ".join(
        f"({t}, {2**i}, CAST([{', '.join(repr(float(x)) for x in h)}] AS DOUBLE[]))"
        for t, tbl in enumerate(LSH_TABLES)
        for i, h in enumerate(tbl)
    )
    return f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
hp(t, bit, h) AS (VALUES
  {planes}
),
sigs AS (
  SELECT e.vec_id, hp.t,
         CAST(SUM(CASE WHEN list_dot_product(e.v, hp.h) >= 0 THEN hp.bit ELSE 0 END) AS BIGINT) AS sig
  FROM e CROSS JOIN hp GROUP BY e.vec_id, hp.t
),
q AS (SELECT vec_id AS query_id, t, sig FROM sigs WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.query_id, s.vec_id
  FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND(list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 6) AS cos
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
"""


TRAINING_ORACLES["embed_lsh_topk"] = _lsh_oracle()


def _ivf_pinned_oracle(
    nprobe: int = 5, k: int = 5, centroids: list[list[float]] | None = None
) -> str:
    """Full hash oracle for the audited IVF tier (round 6): with the
    PINNED unit-norm centroids inlined as literals, cell assignment is
    argmax over ``dot(v, c)/|v| - |c|^2/2`` (lowest cell on ties —
    matching _argmin_code's array_position first-max), query probing
    is the top-``nprobe`` cells by the same score, and the exact
    re-rank is the established 6dp-rounded cosine with vec_id
    tie-break. half_sq literals are the same Python
    ``sum(x*x)/2.0`` the Spark side folds into its expressions, so
    both engines subtract the identical double. Cross-engine margins
    (measured over every fixture vector at sf0.001/0.01/0.1): min
    assignment gap 2.9e-6, min probe-boundary gap 1.3e-4 — a fold
    re-ordering perturbs at most ~1e-14, so no argmin can flip.

    ``centroids``: explicit coarse quantizer to inline (defaults to
    the pinned set) — the round-7 trained-tier oracles reuse this
    builder with the REPLICATED Lloyd codebook (see
    _replicated_quantizers)."""
    if centroids is None:
        from fsc_etl_spark.plans.training_data import IVF_PINNED_CENTROIDS

        centroids = IVF_PINNED_CENTROIDS
    cents = ",\n  ".join(
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]), "
        f"{sum(x * x for x in c) / 2.0!r})"
        for i, c in enumerate(centroids)
    )
    return f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cent(cell, c, half_sq) AS (VALUES
  {cents}
),
ascore AS (
  SELECT en.vec_id, cent.cell,
         list_dot_product(en.v, cent.c) / en.n - cent.half_sq AS s
  FROM en CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore) WHERE r = 1
),
qc AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore WHERE vec_id < 5) WHERE r <= {nprobe}
),
cand AS (
  SELECT qc.query_id, a.vec_id
  FROM assigned a JOIN qc ON a.cell = qc.cell AND a.vec_id <> qc.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND(list_dot_product(qe.v, ce.v) / (qe.n * ce.n), 6) AS cos
  FROM cand
  JOIN en qe ON qe.vec_id = cand.query_id
  JOIN en ce ON ce.vec_id = cand.vec_id
)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {k}
"""


TRAINING_ORACLES["embed_ivf_pinned_topk"] = _ivf_pinned_oracle()


def _nprobe_curve_oracle(sweep: tuple[int, ...] = (1, 2, 4, 6, 8)) -> str:
    """Composed twin of ivf_nprobe_recall_curve (round 10): the pinned
    IVF pipeline at each sweep cutoff, inner-joined to the exact
    brute-force top-5 (both sides unique (query_id, vec_id) pairs, so
    COUNT(*) is the intersection), zero-filled over the sweep grid —
    the _ann_recall_matrix_oracle shape with nprobe as the axis."""
    point_sql = "\nUNION ALL\n".join(
        f"SELECT {n} AS nprobe, query_id, vec_id FROM ({_ivf_pinned_oracle(nprobe=n)})"
        for n in sweep
    )
    exact = TRAINING_ORACLES["embed_cosine_topk"]
    values = ", ".join(f"({n})" for n in sweep)
    return f"""
WITH exact_r AS (SELECT query_id, vec_id FROM ({exact})),
allp AS ({point_sql}),
h AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS hits
      FROM allp JOIN exact_r USING (query_id, vec_id) GROUP BY nprobe)
SELECT CAST(g.nprobe AS INT) AS nprobe,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(25 AS BIGINT) AS n_total,
       CAST((1000000 * COALESCE(h.hits, 0)) // 25 AS BIGINT) AS recall_ppm
FROM (VALUES {values}) AS g(nprobe)
LEFT JOIN h ON h.nprobe = g.nprobe
"""


TRAINING_ORACLES["ivf_nprobe_recall_curve"] = _nprobe_curve_oracle()


def _semdedup_oracle(
    threshold: float = 0.30, centers: list[list[float]] | None = None
) -> str:
    """Full hash oracle for SemDeDup (plans/training_data.
    embed_semdedup_prune): the pinned-centroid assignment CTE (same
    literals + lowest-cell tie rule as the IVF oracle), per-vector
    6dp centroid cosine with the centroid norm embedded as the SAME
    Python-float literal the Spark side folds, within-cell pairs at
    cos >= threshold, and the keep-the-edge rule — the pair member
    with the GREATER (rounded csim, vec_id) is the loser. Margins
    (measured across sf0.001/0.01/0.1, re-checked by
    scripts/ann_margin_audit.py): min |cos - 0.30| = 3.3e-5, zero
    rounded-csim ties among dup pairs, min 6dp rounding half-boundary
    gap 1.1e-12 — fold reorder noise is ~1e-16, so no decision can
    flip between engines.

    ``centers``: explicit codebook to inline (defaults to the pinned
    set) — the round-7 trained-codebook query reuses this builder."""
    if centers is None:
        from fsc_etl_spark.plans.training_data import IVF_PINNED_CENTROIDS

        centers = IVF_PINNED_CENTROIDS
    cents = ",\n  ".join(
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]), "
        f"{sum(x * x for x in c) / 2.0!r}, "
        f"{math.sqrt(sum(x * x for x in c))!r})"
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cent(cell, c, half_sq, cnorm) AS (VALUES
  {cents}
),
ascore AS (
  SELECT en.vec_id, cent.cell,
         list_dot_product(en.v, cent.c) / en.n - cent.half_sq AS s
  FROM en CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore) WHERE r = 1
),
cs AS (
  SELECT a.vec_id, a.cell, en.v, en.n,
         ROUND(list_dot_product(en.v, cent.c) / (en.n * cent.cnorm), 6) AS centroid_sim
  FROM assigned a JOIN en USING (vec_id) JOIN cent ON cent.cell = a.cell
),
dup AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.centroid_sim AS csim_a, b.centroid_sim AS csim_b
  FROM cs a JOIN cs b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= {threshold!r}
),
losers AS (
  SELECT DISTINCT CASE WHEN csim_a > csim_b
                         OR (csim_a = csim_b AND id_a > id_b)
                       THEN id_a ELSE id_b END AS vec_id
  FROM dup
)
SELECT cs.vec_id, cs.cell, cs.centroid_sim,
       (l.vec_id IS NULL) AS kept
FROM cs LEFT JOIN losers l USING (vec_id)
"""


TRAINING_ORACLES["embed_semdedup_prune"] = _semdedup_oracle()


def _knn_label_oracle(
    k: int = 3, centers: list[list[float]] | None = None
) -> str:
    """Full hash oracle for embed_knn_label_audit (operators/
    similarity.knn_label_agreement): the pinned-centroid assignment
    CTE (same literals + lowest-cell tie rule as the IVF/semdedup
    oracles), within-cell 6dp pair cosines, (cos DESC, id ASC) k-NN
    ranking, (count DESC, label ASC) majority vote, and the
    per-vector agreement stats. Every ordering is a total order over
    exactly-representable values; the only float hazard is the 6dp
    rounding of within-cell pair cosines, bounded by
    scripts/ann_margin_audit.py's semdedup_round_boundary tier.

    ``centers``: explicit codebook to inline (defaults to the pinned
    set) — the round-7 trained-codebook query reuses this builder."""
    if centers is None:
        from fsc_etl_spark.plans.training_data import IVF_PINNED_CENTROIDS

        centers = IVF_PINNED_CENTROIDS
    cents = ",\n  ".join(
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]), "
        f"{sum(x * x for x in c) / 2.0!r})"
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cent(cell, c, half_sq) AS (VALUES
  {cents}
),
ascore AS (
  SELECT en.vec_id, cent.cell,
         list_dot_product(en.v, cent.c) / en.n - cent.half_sq AS s
  FROM en CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore) WHERE r = 1
),
cs AS (
  SELECT a.vec_id, a.cell, en.label, en.v, en.n
  FROM assigned a JOIN en USING (vec_id)
),
nbrs AS (
  SELECT id_a, label_a, label_b FROM (
    SELECT a.vec_id AS id_a, a.label AS label_a, b.label AS label_b,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) DESC,
                      b.vec_id ASC) AS rnk
    FROM cs a JOIN cs b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  ) WHERE rnk <= {k}
),
majority AS (
  SELECT id_a, label_b AS knn_label FROM (
    SELECT id_a, label_b, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (
             PARTITION BY id_a ORDER BY COUNT(*) DESC, label_b ASC) AS mrnk
    FROM nbrs GROUP BY id_a, label_b
  ) WHERE mrnk = 1
),
stats AS (
  SELECT id_a,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs,
         CAST(SUM(CASE WHEN label_b = label_a THEN 1 ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM nbrs GROUP BY id_a
)
SELECT cs.vec_id, cs.cell, cs.label,
       CAST(COALESCE(s.n_nbrs, 0) AS BIGINT) AS n_nbrs,
       CAST(COALESCE(s.n_agree, 0) AS BIGINT) AS n_agree,
       CAST(m.knn_label AS INTEGER) AS knn_label,
       COALESCE(m.knn_label = cs.label, FALSE) AS consistent
FROM cs
LEFT JOIN stats s ON s.id_a = cs.vec_id
LEFT JOIN majority m ON m.id_a = cs.vec_id
"""


TRAINING_ORACLES["embed_knn_label_audit"] = _knn_label_oracle()


def _pq_pinned_oracle(
    refine_pool: int = 200,
    k: int = 5,
    sub: int = 8,
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    """Full hash oracle for the audited PQ/ADC tier (round 6): pinned
    per-subspace codebooks inline as 128 literal rows; encode is
    argmax of ``dot(v_sub, code)/|v| - |code|^2/2`` per (vector,
    subspace) (lowest code on ties), the query LUT entry is
    ``dot(q_sub, code)/|q|``, a vector's ADC score sums its 8 LUT
    hits, the refine pool keeps the top ``refine*k`` by (adc DESC,
    vec_id ASC), and the exact 6dp cosine re-rank picks the final k.
    The ADC sum is a GROUP BY SUM over 8 addends in DuckDB vs a
    sequential fold in Spark — re-ordering 8 doubles perturbs ≤
    ~1e-16, and the measured cutoff margins (encode argmin 1.3e-7,
    refine boundary 2.3e-5 across sf0.001/0.01/0.1) are 9+ orders
    larger, so candidate sets cannot diverge; exact ADC ties (equal
    code vectors) resolve by the shared vec_id tie-break.

    ``codebooks``: explicit per-subspace codebooks to inline (defaults
    to the pinned set) — the round-7 trained-tier oracles reuse this
    builder with the REPLICATED Lloyd codebooks."""
    if codebooks is None:
        from fsc_etl_spark.plans.training_data import PQ_PINNED_CODEBOOKS

        codebooks = PQ_PINNED_CODEBOOKS
    rows = ",\n  ".join(
        f"({s}, {ci}, CAST([{', '.join(repr(float(x)) for x in cent)}] AS DOUBLE[]), "
        f"{sum(x * x for x in cent) / 2.0!r})"
        for s, book in enumerate(codebooks)
        for ci, cent in enumerate(book)
    )
    return f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cb(s, code, c, half_sq) AS (VALUES
  {rows}
),
esc AS (
  SELECT en.vec_id, cb.s, cb.code,
         list_dot_product(list_slice(en.v, cb.s * {sub} + 1, cb.s * {sub} + {sub}), cb.c)
           / en.n - cb.half_sq AS sc
  FROM en CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY sc DESC, code ASC) AS r
    FROM esc) WHERE r = 1
),
lut AS (
  SELECT en.vec_id AS query_id, cb.s, cb.code,
         list_dot_product(list_slice(en.v, cb.s * {sub} + 1, cb.s * {sub} + {sub}), cb.c)
           / en.n AS t
  FROM en CROSS JOIN cb WHERE en.vec_id < 5
),
adc AS (
  SELECT l.query_id, c.vec_id, SUM(l.t) AS adc
  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
),
refined AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id ASC) AS r
    FROM adc) WHERE r <= {refine_pool}
),
scored AS (
  SELECT refined.query_id, refined.vec_id,
         ROUND(list_dot_product(qe.v, ce.v) / (qe.n * ce.n), 6) AS cos
  FROM refined
  JOIN en qe ON qe.vec_id = refined.query_id
  JOIN en ce ON ce.vec_id = refined.vec_id
)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {k}
"""


TRAINING_ORACLES["embed_pq_pinned_topk"] = _pq_pinned_oracle()


@_functools.lru_cache(maxsize=8)
def _replicated_quantizers(sf_dir: str):
    """Replicate the TRAINED tiers' Lloyd quantizers from the fixture
    parquet, bit-for-bit (round 7, VERDICT r6 item 6 — upgrades
    embed_ivf_topk / embed_pq_topk from rows-only to full hash
    oracles).

    What this verifies and what it doesn't: the TRAINING recipe is
    shared code by construction (first TRAIN_LIMIT vectors by vec_id ->
    float64 widening -> L2 normalize -> `_lloyd_codebook`, the same
    deterministic numpy on the same sample — DuckDB's parquet read
    hands back the identical float32 values Spark's collect does, and
    float32->float64 widening is exact). Given that identical
    codebook, everything DOWNSTREAM — cell assignment argmin, probe
    ranking, PQ encode, ADC lookup ranking, refine cutoff, exact 6dp
    re-rank — is INDEPENDENTLY recomputed by DuckDB through the same
    audited SQL the pinned tiers use. That is exactly the pinned-tier
    contract with the codebook swapped from seeded literals to
    replicated-trained literals; the un-twinned residue (Lloyd
    itself) is an approximate model fit whose output feeds the oracle
    as data, not a decision the oracle could meaningfully re-derive.

    Soundness margins (measured r7 across sf0.001/0.01/0.1, re-checked
    by scripts/ann_margin_audit.py trained-tier rows): IVF assignment
    gap >= 5.1e-6, probe boundary >= 1.7e-5, PQ encode argmin >=
    2.0e-7, ADC refine cutoff >= 3.8e-5 — all 7+ orders above the
    ~1e-14 cross-engine fold noise, so no candidate-set decision can
    flip between engines."""
    import duckdb
    import numpy as np

    from fsc_etl_spark.operators.similarity import (
        TRAIN_ITERS,
        TRAIN_LIMIT,
        _lloyd_codebook,
    )

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            f"ORDER BY vec_id LIMIT {TRAIN_LIMIT}"
        ).fetchall()
    finally:
        con.close()
    X = np.array([r[0] for r in rows], dtype="float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    ivf = _lloyd_codebook(X, 8, TRAIN_ITERS)
    sub = X.shape[1] // 8
    pq = [
        _lloyd_codebook(X[:, s * sub : (s + 1) * sub], 16, TRAIN_ITERS)
        for s in range(8)
    ]
    return ivf, pq


def _trained_ivf_oracle(sf_dir: str) -> str:
    return _ivf_pinned_oracle(
        nprobe=4, k=5, centroids=_replicated_quantizers(sf_dir)[0]
    )


def _trained_pq_oracle(sf_dir: str) -> str:
    return _pq_pinned_oracle(
        refine_pool=200, k=5, sub=8, codebooks=_replicated_quantizers(sf_dir)[1]
    )


@_functools.lru_cache(maxsize=8)
def _replicated_train_codebook(
    sf_dir: str, k: int = 16, iters: int = 2, scale: int = 127
) -> tuple[tuple[float, ...], ...]:
    """Numpy replication of operators/clustering.train_codebook —
    BIT-IDENTICAL by construction, not by margin: that trainer is
    integer-exact end to end (floor(x*scale) int64 quantization,
    assignment argmin over -2·q·c + |c|² where every product/sum is an
    integer below 2^53 so float64 matmul is exact, truncating-div
    centroid means, lowest-index ties, empty cells keep their
    centroid, init = the k lowest-id vectors), so replaying the same
    integer recurrence over the same rows gives the same codebook on
    any engine. The identity is pinned by
    tests/test_round2_curation.py::test_train_codebook_matches_replication.
    Returned as tuples (hashable for the lru_cache key path)."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
            "ORDER BY vec_id"
        ).fetchall()
    finally:
        con.close()
    V = np.array([r[0] for r in rows], dtype="float64")
    Q = np.floor(V * scale).astype("int64")
    cent = [list(q) for q in Q[:k]]
    while len(cent) < k:
        cent.append(list(cent[-1]))
    for _ in range(iters):
        C = np.array(cent, dtype="float64")
        a = (-2.0 * (Q.astype("float64") @ C.T) + (C * C).sum(axis=1)[None, :]).argmin(
            axis=1
        )
        nxt = [list(c) for c in cent]
        for c in range(k):
            members = Q[a == c]
            if len(members):
                s = members.sum(axis=0)
                cnt = len(members)
                # Spark's `div` truncates toward zero; Python's //
                # floors — replicate trunc explicitly for negatives.
                nxt[c] = [
                    int(abs(int(x)) // cnt * (1 if x >= 0 else -1)) for x in s
                ]
        cent = nxt
    return tuple(tuple(c / float(scale) for c in row) for row in cent)


def _trained_semdedup_oracle(sf_dir: str) -> str:
    centers = [list(c) for c in _replicated_train_codebook(sf_dir, k=16, iters=2)]
    return _semdedup_oracle(threshold=0.30, centers=centers)


def _trained_knn_oracle(sf_dir: str) -> str:
    centers = [list(c) for c in _replicated_train_codebook(sf_dir, k=16, iters=2)]
    return _knn_label_oracle(k=3, centers=centers)


@_functools.lru_cache(maxsize=8)
def _fixture_vec_count(sf_dir: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchone()[0]
    finally:
        con.close()


def _scaled_trained_centers(sf_dir: str) -> list[list[float]]:
    """The DATA-GROWN codebook the round-10 cell-blocked queries train
    (k = clamp(n/512, 8, 1024) — clustering.scaled_codebook_size),
    bit-replicated from the fixture parquet by the same integer-exact
    recurrence as the fixed-k trained oracles."""
    from fsc_etl_spark.operators.clustering import scaled_codebook_size

    k = scaled_codebook_size(_fixture_vec_count(sf_dir))
    return [list(c) for c in _replicated_train_codebook(sf_dir, k=k, iters=2)]


def _cell_assign_ctes(centers: list[list[float]], label: bool = False) -> str:
    """Shared assignment CTE text for the cell-blocked oracles: inline
    centroid literals with the SAME Python-float half-norms the Spark
    broadcast path embeds, score = dot(v,c)/|v| - |c|²/2, first-max
    (lowest cell) tie rule — identical to assign_cells_pandas /
    _argmin_code. Ends with a ``cs(vec_id[, label], cell, v, n)``
    CTE ready for within-cell pair joins."""
    lab = ", label" if label else ""
    cents = ",\n  ".join(
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]), "
        f"{sum(x * x for x in c) / 2.0!r})"
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id{lab}, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id{lab}, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cent(cell, c, half_sq) AS (VALUES
  {cents}
),
ascore AS (
  SELECT en.vec_id, cent.cell,
         list_dot_product(en.v, cent.c) / en.n - cent.half_sq AS s
  FROM en CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore) WHERE r = 1
),
cs AS (
  SELECT a.vec_id{lab}, a.cell, en.v, en.n
  FROM assigned a JOIN en USING (vec_id)
)"""


def _neardup_cell_oracle(sf_dir: str) -> str:
    """Twin of the round-10 dedup_embed_neardup: within-cell pairs at
    6dp cosine >= 0.3 over the per-SF replicated data-grown codebook."""
    ctes = _cell_assign_ctes(_scaled_trained_centers(sf_dir))
    return f"""{ctes}
SELECT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
  FROM cs a JOIN cs b ON a.cell = b.cell AND a.vec_id < b.vec_id
) WHERE cos >= 0.3
"""


def _nn_within_label_cell_oracle(sf_dir: str) -> str:
    """Twin of the round-10 embed_nn_within_label: nearest same-label
    neighbor among same-cell candidates, (cos DESC, id ASC) rank-1."""
    ctes = _cell_assign_ctes(_scaled_trained_centers(sf_dir), label=True)
    return f"""{ctes},
ranked AS (
  SELECT a.cell, a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) DESC,
                    b.vec_id ASC) AS rn
  FROM cs a JOIN cs b
    ON a.cell = b.cell AND a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT cell, label, id_a, id_b AS nn_id, cos AS nn_cos FROM ranked WHERE rn = 1
"""


#: Oracles whose SQL depends on the fixture (trained quantizers): the
#: static TRAINING_ORACLES entries below are generated at the DRIVER's
#: correctness-gate scale (sf0.01 — the only SF the driver compares
#: at, per BASELINE.md §b); local harnesses comparing at other SFs
#: must regenerate via these per-SF callables
#: (fsc_etl_spark.testing.check_query does).
def _ann_recall_matrix_oracle(sf_dir: str) -> str:
    """Composed twin of embed_ann_recall_matrix: the five tier
    pipelines (static literals for lsh/pinned, per-SF replicated
    codebooks for the trained pair) each wrapped as a tagged
    subquery, inner-joined to the exact brute-force top-5 on
    (query_id, vec_id) — both sides unique pairs, so COUNT(*) is the
    intersection size — and zero-filled over the tier list."""
    tiers = {
        "ivf_pinned": _ivf_pinned_oracle(),
        "ivf_trained": _trained_ivf_oracle(sf_dir),
        "lsh_multitable": _lsh_oracle(),
        "pq_pinned": _pq_pinned_oracle(),
        "pq_trained": _trained_pq_oracle(sf_dir),
    }
    exact = TRAINING_ORACLES["embed_cosine_topk"]
    tier_sql = "\nUNION ALL\n".join(
        f"SELECT '{nm}' AS tier, query_id, vec_id FROM ({sql})"
        for nm, sql in tiers.items()
    )
    values = ", ".join(f"('{nm}')" for nm in tiers)
    return f"""
WITH exact_r AS (SELECT query_id, vec_id FROM ({exact})),
allt AS ({tier_sql}),
h AS (SELECT tier, CAST(COUNT(*) AS BIGINT) AS hits
      FROM allt JOIN exact_r USING (query_id, vec_id) GROUP BY tier)
SELECT t.tier,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(25 AS BIGINT) AS n_total,
       CAST((1000000 * COALESCE(h.hits, 0)) // 25 AS BIGINT) AS recall_ppm
FROM (VALUES {values}) AS t(tier)
LEFT JOIN h ON h.tier = t.tier
"""


def _ivf_cell_balance_oracle(sf_dir: str) -> str:
    """Cell-balance twin: the replicated-trained codebook inlined as
    literals, the audited lowest-cell-tie argmax assignment CTE, a
    k-row population rollup zero-filled over the cell grid."""
    centers = [
        list(c) for c in _replicated_train_codebook(sf_dir, k=16, iters=2)
    ]
    cents = ",\n  ".join(
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]), "
        f"{sum(x * x for x in c) / 2.0!r})"
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
cent(cell, c, half_sq) AS (VALUES
  {cents}
),
ascore AS (
  SELECT en.vec_id, cent.cell,
         list_dot_product(en.v, cent.c) / en.n - cent.half_sq AS s
  FROM en CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
    FROM ascore) WHERE r = 1
),
pops AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM embeddings),
grid AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS cell)
SELECT grid.cell,
       CAST(COALESCE(p.n_vecs, 0) AS BIGINT) AS n_vecs,
       CAST((1000000 * COALESCE(p.n_vecs, 0)) // tot.t AS BIGINT) AS share_ppm,
       CAST((16000000 * COALESCE(p.n_vecs, 0)) // tot.t AS BIGINT)
         AS load_x_uniform_ppm
FROM grid CROSS JOIN tot LEFT JOIN pops p ON p.cell = grid.cell
"""


SF_ORACLE_GENERATORS: dict[str, _t.Callable[[str], str]] = {
    "embed_ivf_topk": _trained_ivf_oracle,
    "embed_pq_topk": _trained_pq_oracle,
    "embed_semdedup_trained": _trained_semdedup_oracle,
    "embed_knn_audit_trained": _trained_knn_oracle,
    "embed_ann_recall_matrix": _ann_recall_matrix_oracle,
    "ivf_cell_balance": _ivf_cell_balance_oracle,
    "dedup_embed_neardup": _neardup_cell_oracle,
    "embed_nn_within_label": _nn_within_label_cell_oracle,
}

#: The driver's correctness-gate fixture. One shared, env-overridable
#: constant (ADVICE r7): every consumer that needs "the SF the driver
#: compares at" reads this instead of hardcoding a path.
DRIVER_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)

_trained_populated = False


def ensure_trained_oracles(sf_dir: str | None = None) -> None:
    """Populate the four fixture-trained oracle entries in
    TRAINING_ORACLES, lazily and once per process (ADVICE r7: the
    Lloyd replications used to run at import time, making module
    import slow and the dict's content environment-dependent).

    Called by ``__spark_entry__.oracle_sql()`` so the driver's gate
    sees the full-SQL entries; local harnesses comparing at other SFs
    regenerate per-SF via SF_ORACLE_GENERATORS (testing.check_query).
    """
    global _trained_populated
    if _trained_populated:
        return
    d = sf_dir or DRIVER_SF_DIR
    if not _os.path.isdir(d):
        return  # no fixture on this machine — entries stay absent
    for name, gen in SF_ORACLE_GENERATORS.items():
        TRAINING_ORACLES[name] = gen(d)
    _trained_populated = True


def _mmr_oracle(k: int = 5) -> str:
    """Unrolled greedy MMR mirroring operators/similarity.mmr_select
    round-for-round: 6dp-rounded cosines, score = 7/10·rel −
    3/10·max-sim-to-picked (0.0 on the first round), ties by vec_id.
    """

    def sim(pj: str) -> str:
        return (
            f"ROUND(list_dot_product(c.v, {pj}.v) / (c.n * {pj}.n), 6)"
        )

    chain = [
        f"e AS (SELECT vec_id, {_DV} AS v FROM embeddings)",
        "q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id = 0)",
        """c AS (
  SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS n,
         ROUND(list_dot_product(q.qv, e.v)
               / (q.qn * sqrt(list_dot_product(e.v, e.v))), 6) AS rel
  FROM e, q WHERE e.vec_id <> 0
)""",
        """p1 AS (
  SELECT vec_id, v, n, rel, ROUND(7/10 * rel - 3/10 * 0.0, 6) AS score
  FROM c ORDER BY score DESC, vec_id LIMIT 1
)""",
    ]
    for t in range(2, k + 1):
        prev = [f"p{j}" for j in range(1, t)]
        sims = ", ".join(sim(p) for p in prev)
        not_in = ", ".join(f"{p}.vec_id" for p in prev)
        chain.append(
            f"""p{t} AS (
  SELECT c.vec_id, c.v, c.n, c.rel,
         ROUND(7/10 * c.rel - 3/10 * GREATEST({sims}), 6) AS score
  FROM c, {', '.join(prev)}
  WHERE c.vec_id NOT IN ({not_in})
  ORDER BY score DESC, c.vec_id LIMIT 1
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS sel_rank, vec_id, rel AS rel_cos, "
        f"score AS mmr_score FROM p{t}"
        for t in range(1, k + 1)
    )
    return "WITH " + ",\n".join(chain) + "\n" + selects


TRAINING_ORACLES["embed_mmr_select"] = _mmr_oracle()

TRAINING_ORACLES["user_trend_slope"] = """
WITH daily AS (
  SELECT user_id,
         DATEDIFF('day', DATE '2000-01-01', CAST(ts AS DATE)) AS day_idx,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       ROUND(REGR_SLOPE(n, day_idx), 6) + 0.0 AS slope,
       COUNT(*) AS n_points
FROM daily
GROUP BY user_id
"""

# Same contract, pandas physical strategy — shares the oracle.
TRAINING_ORACLES["user_trend_slope_pandas"] = TRAINING_ORACLES["user_trend_slope"]

TRAINING_ORACLES["hash_stratified_sample"] = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CASE WHEN lang = 'en'
           THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
           ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' END
"""

# Mirrors operators/sampling.pps_systematic: exclusive prefix sum of
# token weights ordered by doc_id; stride = max(total div 50, 1);
# a row is drawn (cb+w)//stride - cb//stride times.
TRAINING_ORACLES["pps_token_sample"] = f"""
WITH w AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT GREATEST(SUM(n_tokens) // 50, 1) AS stride FROM w
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cb
  FROM w
)
SELECT doc_id, n_tokens,
       CAST((cb + n_tokens) // stride - cb // stride AS BIGINT) AS n_hits
FROM c, s
WHERE (cb + n_tokens) // stride - cb // stride >= 1
"""

# Priority sampling twin: the same 28-bit md5 pseudo-uniform (+1, so
# never zero) and the same exact integer floor (w * 2^40) // u in
# HUGEINT; priorities are non-negative so DuckDB's flooring // equals
# Spark's truncating div with no CASE spelling needed.
TRAINING_ORACLES["weighted_priority_sample"] = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
              AS HUGEINT) + 1 AS u
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST((CAST(n_tokens AS HUGEINT) * 1099511627776) // u AS BIGINT) AS priority
FROM w
ORDER BY priority DESC, doc_id ASC
LIMIT 50
"""

# Mirrors sorted_neighborhood_pairs: identical block/window definition
# (8-char prefix blocks of the 24-char lowercased key, lead offsets 1
# and 2 ordered by (key, doc_id)) and the same non-negative integer
# Jaccard-ppm arithmetic — flooring // == Spark's truncating div.
TRAINING_ORACLES["sorted_neighborhood_pairs"] = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         substr(lower(trim(text)), 1, 24) AS key,
         substr(substr(lower(trim(text)), 1, 24), 1, 8) AS block,
         list_distinct({_TOKS}) AS tok
  FROM documents
),
w AS (
  SELECT block, doc_id, tok,
         lead(doc_id, 1) OVER win AS b1, lead(tok, 1) OVER win AS t1,
         lead(doc_id, 2) OVER win AS b2, lead(tok, 2) OVER win AS t2
  FROM base WINDOW win AS (PARTITION BY block ORDER BY key, doc_id)
),
pairs AS (
  SELECT block, doc_id AS doc_a, b1 AS doc_b,
         CAST(len(list_intersect(tok, t1)) AS BIGINT) AS n_inter,
         CAST(len(list_distinct(list_cat(tok, t1))) AS BIGINT) AS n_union
  FROM w WHERE b1 IS NOT NULL
  UNION ALL
  SELECT block, doc_id, b2,
         CAST(len(list_intersect(tok, t2)) AS BIGINT),
         CAST(len(list_distinct(list_cat(tok, t2))) AS BIGINT)
  FROM w WHERE b2 IS NOT NULL
)
SELECT block, doc_a, doc_b,
       CAST((1000000 * n_inter) // n_union AS BIGINT) AS jaccard_ppm
FROM pairs WHERE n_union > 0
ORDER BY jaccard_ppm DESC, doc_a, doc_b
LIMIT 20
"""

# Mirrors token_budget_schedule: exact integer split of the 200k
# budget by source-name rank, then div/mod epoch decomposition.
TRAINING_ORACLES["token_budget_schedule"] = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
),
ranked AS (
  SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS rk
  FROM per_src
),
b AS (
  SELECT source, n_docs, avail_tokens,
         CAST(200000 // n
              + CASE WHEN rk <= 200000 % n THEN 1 ELSE 0 END AS BIGINT)
           AS budget_tokens
  FROM ranked
)
SELECT source, n_docs, avail_tokens, budget_tokens,
       CAST(budget_tokens // avail_tokens AS BIGINT) AS full_epochs,
       CAST(budget_tokens % avail_tokens AS BIGINT) AS partial_tokens
FROM b
"""

TRAINING_ORACLES["token_simpson_quality"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
counts AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       CAST((coll * 1000000) // (n_tokens * (n_tokens - 1)) AS BIGINT)
         AS simpson_ppm
FROM per_doc WHERE n_tokens >= 2
"""

TRAINING_ORACLES["token_vocab_topk"] = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS freq
FROM toks
GROUP BY tok
ORDER BY freq DESC, tok
LIMIT 100
"""

TRAINING_ORACLES["pack_chunks_by_source"] = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), offs AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS start_off,
         CAST(SUM(n_tokens) OVER w AS BIGINT) AS end_off
  FROM toks
  WINDOW w AS (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id, source, n_tokens, start_off, end_off,
       CAST(FLOOR(start_off / 2048.0) AS BIGINT) AS start_chunk,
       CAST(FLOOR((end_off - 1) / 2048.0) AS BIGINT) AS end_chunk,
       CAST(FLOOR((end_off - 1) / 2048.0) AS BIGINT)
         - CAST(FLOOR(start_off / 2048.0) AS BIGINT) + 1 AS n_chunks_spanned
FROM offs
"""


_AGREE8 = " + ".join(f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(8))

TRAINING_ORACLES["minhash_jaccard_estimate"] = f"""
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
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.band_idx = y.band_idx AND x.band_sig = y.band_sig
  WHERE x.doc_id < y.doc_id
)
SELECT id_a, id_b, ROUND(({_AGREE8}) / 8.0, 6) AS jaccard_est
FROM cand
JOIN sigs a ON a.doc_id = id_a
JOIN sigs b ON b.doc_id = id_b
"""

TRAINING_ORACLES["hash_split_counts"] = f"""
WITH d AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM d GROUP BY split
"""

TRAINING_ORACLES["bigram_topk"] = f"""
WITH words AS (
  SELECT {_TOKS.replace("trim(text)", "trim(lower(text))")} AS w FROM documents
),
grams AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> array_to_string(w[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' '))) AS bigram
  FROM words WHERE len(w) >= 2
)
SELECT bigram, COUNT(*) AS freq
FROM grams GROUP BY bigram
ORDER BY freq DESC, bigram
LIMIT 50
"""

TRAINING_ORACLES["source_doc_stats"] = f"""
WITH d AS (
  SELECT source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens, n_chars
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS median_chars
FROM d GROUP BY source
"""

TRAINING_ORACLES["embed_norm_stats"] = """
WITH norms AS (
  SELECT label,
         CAST(ROUND(sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DECIMAL(18,6)) AS l2
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(l2) AS DOUBLE) / COUNT(*), 6) AS avg_l2,
       ROUND(CAST(MIN(l2) AS DOUBLE), 6) AS min_l2,
       ROUND(CAST(MAX(l2) AS DOUBLE), 6) AS max_l2
FROM norms GROUP BY label
"""

TRAINING_ORACLES["user_funnel"] = """
WITH agg AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(first_view AS TIMESTAMP) AS first_view,
       CAST(first_click AS TIMESTAMP) AS first_click,
       CAST(first_purchase AS TIMESTAMP) AS first_purchase,
       COALESCE(first_view < first_click AND first_click < first_purchase, FALSE) AS converted
FROM agg
"""

_LTOKS = _TOKS.replace("trim(text)", "trim(lower(text))")

TRAINING_ORACLES["contamination_overlap"] = f"""
WITH {_SHINGLES},
bg AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
FROM sh s JOIN bg USING (sh)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""

TRAINING_ORACLES["doc_repetition_stats"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS tok FROM documents
),
pt AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok),
agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(cnt) AS BIGINT) AS top_tok_n
  FROM pt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_tok_n,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
       ROUND(CAST(top_tok_n AS DOUBLE) / n_tokens, 4) AS top_tok_frac
FROM agg
"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
_PII_LONGNUM = "[0-9][0-9][0-9][0-9]+"

TRAINING_ORACLES["pii_redact_stats"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_LONGNUM}')) AS BIGINT) AS n_longnums,
       CAST(length(regexp_replace(
           regexp_replace(text, '{_PII_EMAIL}', '[PII]', 'g'),
           '{_PII_LONGNUM}', '[PII]', 'g')) AS BIGINT) AS clean_chars
FROM documents
"""

TRAINING_ORACLES["domain_mix_weights"] = f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       ROUND(sqrt(CAST(n_tokens AS DOUBLE))
             / SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS mix_weight
FROM per_src
"""

TRAINING_ORACLES["length_quantile_filter"] = f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
h AS (SELECT n_tokens, COUNT(*) AS cnt FROM d GROUP BY n_tokens),
b AS (
  SELECT n_tokens, cnt,
         SUM(cnt) OVER (ORDER BY n_tokens) AS cum,
         SUM(cnt) OVER () AS total
  FROM h
),
keep AS (
  SELECT n_tokens FROM b
  WHERE 20 * cum > total AND 20 * (cum - cnt) < 19 * total
)
SELECT d.doc_id, d.source, d.n_tokens
FROM d JOIN keep USING (n_tokens)
"""

_QUALITY_CTE = f"""q AS (
  SELECT doc_id,
         ROUND(
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN n_punct / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_stop / GREATEST(n_tokens, 1) > 0 THEN 0.25 ELSE 0.0 END), 2) AS quality
  FROM (
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter({_TOKS}, x -> x IN ({_in_list(LANG_STOPWORDS["en"])}))) AS BIGINT) AS n_stop,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
  )
)"""

TRAINING_ORACLES["cluster_canonical_doc"] = f"""
WITH RECURSIVE {_CLUSTERS_CTE},
{_QUALITY_CTE}
SELECT cluster_root, doc_id, quality, cluster_size
FROM (
  SELECT c.cluster_root, c.doc_id, q.quality,
         CAST(COUNT(*) OVER (PARTITION BY c.cluster_root) AS BIGINT) AS cluster_size,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_root ORDER BY q.quality DESC, c.doc_id
         ) AS rn
  FROM clusters c JOIN q USING (doc_id)
)
WHERE rn = 1
"""

TRAINING_ORACLES["tfidf_top_terms"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         ROUND(tf.tf * CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1), 6) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, df, tfidf, CAST(rn AS INT) AS rn
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
  FROM scored
)
WHERE rn <= 5
"""

TRAINING_ORACLES["containment_pairs"] = f"""
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
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
),
toks AS (
  SELECT DISTINCT doc_id, unnest({_LTOKS}) AS tok FROM documents
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN toks a ON a.doc_id = c.id_a
  JOIN toks b ON b.doc_id = c.id_b AND b.tok = a.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(CAST(i.inter AS DOUBLE) / sa.sz, 6) AS containment_a,
       ROUND(CAST(i.inter AS DOUBLE) / sb.sz, 6) AS containment_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""

TRAINING_ORACLES["synth_docs_source"] = """
WITH ids AS (SELECT unnest(range(0, 2000)) AS doc_id)
SELECT doc_id,
       array_to_string(
         list_transform(range(0, 8),
           j -> substr(md5('doc:' || CAST(doc_id AS VARCHAR)),
                       CAST((j * 4) % 32 + 1 AS BIGINT), 4)),
         ' ') AS text,
       'src' || CAST(doc_id % 5 AS VARCHAR) AS source
FROM ids
"""

TRAINING_ORACLES["embed_quantize_stats"] = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, label, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, label,
       ROUND(scale * 1e6, 3) AS scale_ppm,
       CAST(list_sum(list_transform(v, x -> CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_checksum,
       ROUND(list_max(list_transform(v,
           x -> abs(x - CAST(round(x / scale) AS BIGINT) * scale))) * 1e6, 3) AS max_err_ppm
FROM s
"""

TRAINING_ORACLES["salted_source_stats"] = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS sum_tokens,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""

# Same fixpoint, different algorithm — the star variant is checked
# against the identical recursive-CTE clustering oracle.
TRAINING_ORACLES["dedup_cluster_assign_star"] = TRAINING_ORACLES["dedup_cluster_assign"]

TRAINING_ORACLES["inverted_index_stats"] = f"""
WITH posts AS (
  SELECT doc_id, unnest(list_distinct({_TOKS.replace("trim(text)", "trim(lower(text))")})) AS term
  FROM documents
),
idx AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         list_sort(list(doc_id)) AS postings
  FROM posts GROUP BY term
)
SELECT term, df,
       CAST(postings[1] AS BIGINT) AS first_doc,
       CAST(postings[-1] AS BIGINT) AS last_doc,
       array_to_string(postings[1:10], ',') AS head_postings
FROM idx
"""

TRAINING_ORACLES["pmi_top_bigrams"] = f"""
WITH words AS (
  SELECT {_TOKS.replace("trim(text)", "trim(lower(text))")} AS w FROM documents
),
uni AS (
  SELECT u AS w1, CAST(COUNT(*) AS BIGINT) AS nx
  FROM (SELECT unnest(w) AS u FROM words) GROUP BY u
),
nt AS (SELECT CAST(SUM(nx) AS BIGINT) AS n_total FROM uni),
nb AS (SELECT CAST(SUM(GREATEST(len(w) - 1, 0)) AS BIGINT) AS nb_total FROM words),
grams AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> array_to_string(w[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)], ' '))) AS bigram
  FROM words WHERE len(w) >= 2
),
gc AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM grams GROUP BY bigram HAVING COUNT(*) >= 5
),
scored AS (
  SELECT g.bigram, g.nxy,
         CAST((CAST(g.nxy AS HUGEINT) * nt.n_total * nt.n_total * 100)
              // (CAST(u1.nx AS HUGEINT) * u2.nx * nb.nb_total) AS BIGINT) AS pmi_score
  FROM gc g
  JOIN uni u1 ON u1.w1 = string_split(g.bigram, ' ')[1]
  JOIN uni u2 ON u2.w1 = string_split(g.bigram, ' ')[2]
  CROSS JOIN nt CROSS JOIN nb
)
SELECT bigram, nxy, pmi_score
FROM scored ORDER BY pmi_score DESC, bigram LIMIT 20
"""

TRAINING_ORACLES["embed_dim_median_stats"] = """
SELECT CAST(i - 1 AS INTEGER) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(median(CAST(embedding[i] AS DOUBLE)), 4) AS med,
       MIN(CAST(embedding[i] AS DOUBLE)) AS vmin,
       MAX(CAST(embedding[i] AS DOUBLE)) AS vmax,
       CAST(SUM(CASE WHEN embedding[i] < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
GROUP BY 1
"""

TRAINING_ORACLES["mixture_temperature_sample"] = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM documents GROUP BY source
),
m AS (SELECT MIN(n_src) AS n_min FROM c),
kept AS (
  SELECT d.source AS source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN c ON d.source = c.source, m
  WHERE CAST(CAST((\'0x\' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS HUGEINT)
        * CAST((\'0x\' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
        * c.n_src
        < CAST(m.n_min AS HUGEINT) * 72057594037927936
  GROUP BY d.source
)
SELECT c.source, c.n_src, COALESCE(kept.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM c LEFT JOIN kept ON c.source = kept.source
"""

TRAINING_ORACLES["mixture_resample_to_min"] = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM documents GROUP BY source
),
m AS (SELECT MIN(n_src) AS n_min FROM c),
kept AS (
  SELECT d.source AS source, CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM documents d JOIN c ON d.source = c.source, m
  WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS HUGEINT) * c.n_src
        < CAST(m.n_min AS HUGEINT) * 1152921504606846976
  GROUP BY d.source
)
SELECT c.source, c.n_src, COALESCE(kept.n_kept, CAST(0 AS BIGINT)) AS n_kept
FROM c LEFT JOIN kept ON c.source = kept.source
"""

# Frame offsets/slices are exact integer byte math over the (ASCII)
# document text, so the stub sampler is byte-for-byte checkable.
TRAINING_ORACLES["multimodal_frame_sample"] = """
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS size,
         GREATEST(1, length(text) // 4) AS chunk
  FROM documents
),
i AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(frame_idx))
SELECT media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(LEAST(frame_idx * chunk, GREATEST(0, size - 1)) AS BIGINT) AS offset_bytes,
       md5(substring(text,
                     CAST(LEAST(frame_idx * chunk, GREATEST(0, size - 1)) AS BIGINT) + 1,
                     chunk)) AS frame_md5
FROM m, i
"""

# Stub resize = cycle bytes to width*height (16*8 = 128): repeat +
# truncate over the ASCII text reproduces the bytes exactly.
TRAINING_ORACLES["multimodal_resize"] = """
SELECT doc_id AS media_id,
       CAST(16 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(128 AS BIGINT) AS n_bytes,
       md5(substring(repeat(text, CAST(ceil(128.0 / length(text)) AS BIGINT)), 1, 128)) AS content_md5
FROM documents
"""

# Real-codec resize: the 12x8 P6 source's pixel buffer is the text
# cycled to 288 bytes; nearest-neighbor 6x4 picks source pixel
# (2y, 2x), i.e. the 3-byte substring at (2y*12 + 2x)*3 + 1. The
# string_agg ordered by (y, x) rebuilds the raster scan, and md5 over
# header+pixels is byte-exact vs the codec's canonical P6 encoding.
TRAINING_ORACLES["multimodal_resize_codec"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         substring(repeat(text, CAST(ceil(288.0 / GREATEST(length(text), 1)) AS BIGINT)),
                   1, 288) AS pixbuf
  FROM documents
),
g AS (
  SELECT media_id,
         string_agg(substring(pixbuf, (y.y * 24 + x.x * 2) * 3 + 1, 3),
                    '' ORDER BY y.y, x.x) AS rez
  FROM m,
       (SELECT range AS y FROM range(4)) y,
       (SELECT range AS x FROM range(6)) x
  GROUP BY media_id
)
SELECT media_id,
       'image/x-portable-pixmap' AS mime,
       CAST(6 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(83 AS BIGINT) AS n_bytes,
       md5('P6' || chr(10) || '6 4' || chr(10) || '255' || chr(10) || rez) AS content_md5
FROM g
"""

# Raw-video decode: frame f's pixel buffer is the cycled text's bytes
# [f+1, f+96]; the decoder's px_sum must equal the ord() sum over that
# exact range — any header mis-parse or slice drift changes it.
TRAINING_ORACLES["multimodal_frame_decode"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         repeat(text, CAST(ceil(100.0 / GREATEST(length(text), 1)) AS BIGINT)) AS cyc
  FROM documents
),
s AS (
  SELECT media_id, f.frame_idx, substring(cyc, f.frame_idx + 1, 96) AS pix
  FROM m, (SELECT range AS frame_idx FROM range(4)) f
)
SELECT media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(8 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST(list_sum(list_transform(range(1, 97), i -> ord(substring(pix, i, 1)))) AS BIGINT)
         AS px_sum
FROM s
"""

TRAINING_ORACLES["embed_truncate_norms"] = """
WITH s AS (
  SELECT vec_id,
         list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS full_sq,
         list_sum(list_transform(embedding[1:16],
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS prefix_sq
  FROM embeddings
)
SELECT vec_id,
       ROUND(sqrt(full_sq), 6) AS l2_full,
       ROUND(sqrt(prefix_sq), 6) AS l2_16,
       ROUND(prefix_sq / full_sq, 6) AS energy_ratio_16
FROM s
"""

# Hard-negative mining: the exact cosine tier's rounding/tie-break
# discipline (ROUND 6dp, (cos DESC, vec_id ASC) row_number) with a
# label-inequality join predicate — same float-parity argument as
# embed_cosine_topk.
TRAINING_ORACLES["embed_hard_negatives"] = f"""
WITH e AS (SELECT vec_id, label, {_DV} AS v FROM embeddings),
en AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS n FROM e),
q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, n AS qn
      FROM en WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id, c.label AS neg_label,
         ROUND(list_dot_product(q.qv, c.v) / (q.qn * c.n), 6) AS cos
  FROM en c JOIN q ON c.label <> q.q_label
)
SELECT query_id, vec_id, neg_label, cos, rank FROM (
  SELECT query_id, vec_id, neg_label, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored) WHERE rank <= 5
"""

# BPE pair counts: word frequencies then per-distinct-word adjacent
# character pairs, weighted sum per pair — all-integer; DuckDB
# range(1, len) is [1, len) matching Spark sequence(1, length-1);
# substr/len are character-based in both engines.
TRAINING_ORACLES["bpe_pair_counts"] = """
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS w
  FROM documents
),
wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
pairs AS (
  SELECT n, substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair
  FROM (SELECT w, n, unnest(range(1, len(w))) AS i FROM wc WHERE len(w) >= 2)
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS weighted_count
FROM pairs GROUP BY pair
ORDER BY weighted_count DESC, pair ASC
LIMIT 50
"""

# Int8 quantization stats: symmetric per-corpus scale s = max |x|
# (exact selection), q = clamp(round(x/s*127), -127, 127) — DuckDB
# ROUND on DOUBLE is half-away-from-zero, the same rule as Spark's
# F.round HALF_UP, and x/s*127 is two correctly-rounded IEEE ops from
# identical inputs, so the integers match exactly; all aggregates
# BIGINT.
TRAINING_ORACLES["embed_int8_quant_stats"] = """
WITH s AS (
  SELECT MAX(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))) AS sc
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> GREATEST(-127, LEAST(127,
                CAST(ROUND(CAST(x AS DOUBLE) / GREATEST(s.sc, 1e-300) * 127)
                     AS INTEGER)))) AS qv
  FROM embeddings CROSS JOIN s
)
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS q_energy,
       CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_saturated,
       CAST(len(list_filter(qv, v -> v = 0)) AS BIGINT) AS n_zero
FROM q
"""

# Segment-level keep-first dedup: identical 16-token windows dedup
# globally on md5 with the (doc_id, seg_idx) tie-break. list_slice's
# inclusive end mirrors Spark slice's (start, length) on in-range
# windows; both truncate at the token-list end.
TRAINING_ORACLES["segment_dedup_mask"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
segs AS (
  SELECT doc_id, seg_idx,
         md5(array_to_string(list_slice(tk, seg_idx * 16 + 1, seg_idx * 16 + 16), ' '))
           AS seg_hash
  FROM (SELECT doc_id, tk,
               unnest(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS seg_idx
        FROM toks)
),
kept AS (
  SELECT doc_id, seg_idx,
         (ROW_NUMBER() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_idx) = 1) AS keep
  FROM segs
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kept GROUP BY doc_id
"""

# Winnowing fingerprints — INDEPENDENT construction from the Schleimer
# et al. 2003 definition, deliberately NOT a translation of the Spark
# plan (the r6 twin shared the Spark plan's frame-mixing bug and
# hash-matched it): materialize every (anchor window, member) pair via
# an explicit range join, then per window pick the member minimizing
# (h ASC, pos DESC) with ROW_NUMBER — lowest hash, rightmost tie.
# Spark instead uses a single frame aggregate max(struct(2^48-h, pos));
# the two mechanisms agree only if both implement the paper. All
# decisions are total-order integer comparisons. Anchors run over
# pos <= greatest(n_grams-3, 1): every full window, and for docs
# shorter than one window the single truncated window (global min).
TRAINING_ORACLES["winnow_fingerprints"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(tk, i, i + 2), ' ')), 1, 12))
              AS BIGINT) AS h
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM toks WHERE len(tk) >= 3)
),
counted AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
),
anchors AS (
  SELECT g.doc_id, g.pos AS astart, c.n_grams
  FROM grams g JOIN counted c USING (doc_id)
  WHERE g.pos <= GREATEST(c.n_grams - 3, 1)
),
members AS (
  SELECT a.doc_id, a.astart, a.n_grams, g.pos, g.h
  FROM anchors a
  JOIN grams g
    ON g.doc_id = a.doc_id AND g.pos BETWEEN a.astart AND a.astart + 3
),
picked AS (
  SELECT doc_id, n_grams, pos AS sel_pos, h AS fp_hash
  FROM members
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, astart
                             ORDER BY h ASC, pos DESC) = 1
),
fps AS (SELECT DISTINCT doc_id, n_grams, sel_pos, fp_hash FROM picked)
SELECT doc_id,
       CAST(MIN(n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(SUM(fp_hash) AS BIGINT) AS fp_sum,
       CAST((1000000 * COUNT(*)) // MIN(n_grams) AS BIGINT) AS density_ppm
FROM fps GROUP BY doc_id
"""

# Dup-span TRIM accounting: keep-first survivorship per seg_hash
# (doc_id, seg_idx order), exact final-segment token length, per-doc
# kept/removed token sums and floor-div trim ppm. All-integer.
TRAINING_ORACLES["dup_span_trim_stats"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
segs AS (
  SELECT doc_id, seg_idx,
         md5(array_to_string(list_slice(tk, seg_idx * 16 + 1, seg_idx * 16 + 16), ' '))
           AS seg_hash,
         CAST(len(tk) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, tk,
               unnest(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS seg_idx
        FROM toks)
),
kept AS (
  SELECT doc_id, seg_idx, n_tokens,
         LEAST(16, n_tokens - seg_idx * 16) AS seg_tokens,
         (ROW_NUMBER() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_idx) = 1)
           AS keep
  FROM segs
)
SELECT doc_id,
       CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed_segments,
       CAST(SUM(CASE WHEN keep THEN seg_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST((1000000 * SUM(CASE WHEN keep THEN 0 ELSE seg_tokens END))
            // MIN(n_tokens) AS BIGINT) AS trim_ppm
FROM kept GROUP BY doc_id
"""

# Maximal duplicated spans: the segment fragment above + corpus
# occurrence counts + the seg_idx - ROW_NUMBER islands trick for
# maximal runs. All-integer (counts + floor-div ppm).
TRAINING_ORACLES["dup_span_stats"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
segs AS (
  SELECT doc_id, seg_idx,
         md5(array_to_string(list_slice(tk, seg_idx * 16 + 1, seg_idx * 16 + 16), ' '))
           AS seg_hash
  FROM (SELECT doc_id, tk,
               unnest(range(CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS seg_idx
        FROM toks)
),
cnt AS (SELECT seg_hash, COUNT(*) AS n_occ FROM segs GROUP BY seg_hash),
flagged AS (
  SELECT s.doc_id, s.seg_idx, (c.n_occ >= 2) AS dup
  FROM segs s JOIN cnt c USING (seg_hash)
),
spans AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(MAX(span_len) AS BIGINT) AS max_span_segments
  FROM (
    SELECT doc_id, grp, COUNT(*) AS span_len
    FROM (
      SELECT doc_id, seg_idx,
             seg_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp
      FROM flagged WHERE dup
    ) GROUP BY doc_id, grp
  ) GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
  FROM flagged GROUP BY doc_id
)
SELECT b.doc_id, b.n_segments, b.n_dup_segments,
       CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(s.max_span_segments, 0) AS BIGINT) AS max_span_segments,
       CAST((1000000 * b.n_dup_segments) // b.n_segments AS BIGINT) AS dup_ppm
FROM base b LEFT JOIN spans s USING (doc_id)
"""

# End-to-end curation manifest: the quality / lang-id / contamination
# / repetition / dedup fragments above composed verbatim, aggregated
# per declared language. Every SUM is CAST AS BIGINT (the r4 HUGEINT
# lesson); every gate is the exact expression its standalone oracle
# uses, so a divergence here localizes to the composition, not the
# gates.
TRAINING_ORACLES["training_mix_manifest"] = f"""
WITH corpus AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 29 <> 0),
s AS (
  SELECT doc_id, lang,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_in_list(LANG_STOPWORDS["en"])}))) AS BIGINT) AS n_stop,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
{_VOTES},
         md5(lower(trim(text))) AS fp,
         list_transform(
           range(1, len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) - 1),
           i -> array_to_string(
             list_slice(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> ''), i, i + 2), ' ')
         ) AS g3
  FROM corpus
),
scored AS (
  SELECT doc_id, lang, fp, n_tokens,
         ROUND(
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END)
           + (CASE WHEN n_punct / GREATEST(n_chars, 1) <= 0.1 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_stop / GREATEST(n_tokens, 1) > 0 THEN 0.25 ELSE 0.0 END), 2) AS quality,
         {_LANG_CASE} AS lang_pred,
         CASE WHEN len(g3) > 0
              THEN (1000000 * (CAST(len(g3) AS BIGINT) - CAST(len(list_distinct(g3)) AS BIGINT))) // CAST(len(g3) AS BIGINT)
              ELSE 0 END AS rep_ppm
  FROM s
),
toks8 AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS g
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM toks8 WHERE len(tk) >= 8)
),
eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
contam AS (
  SELECT DISTINCT c.doc_id FROM grams c JOIN eval_g e USING (g) WHERE c.doc_id % 29 <> 0
),
flagged AS (
  SELECT scored.*, (contam.doc_id IS NOT NULL) AS contaminated
  FROM scored LEFT JOIN contam USING (doc_id)
),
okd AS (
  SELECT *,
         (quality >= 0.75 AND lang_pred = lang AND NOT contaminated AND rep_ppm < 200000) AS ok
  FROM flagged
),
keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM okd WHERE ok GROUP BY fp),
enr AS (SELECT okd.*, keep.keep_id FROM okd LEFT JOIN keep USING (fp))
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN quality < 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
       CAST(SUM(CASE WHEN lang_pred <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_langid,
       CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN rep_ppm >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(SUM(CASE WHEN ok AND doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
       CAST(SUM(CASE WHEN ok AND doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN ok AND doc_id = keep_id THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM enr GROUP BY lang
"""

# Benchmark decontamination: sliding 8-gram overlap vs the
# doc_id % 29 == 0 eval slice. All-integer (counts + boolean) — the
# only cross-engine hazard would be tokenization drift, and the
# split-regex/filter idiom is shared with every other token oracle.
TRAINING_ORACLES["eval_contamination_flags"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS g
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM toks WHERE len(tk) >= 8)
),
eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
hits AS (
  SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_contaminated
  FROM grams c JOIN eval_g e USING (g)
  WHERE c.doc_id % 29 <> 0 GROUP BY c.doc_id
)
SELECT t.doc_id,
       CAST(GREATEST(len(t.tk) - 7, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS contaminated
FROM toks t LEFT JOIN hits h USING (doc_id)
WHERE t.doc_id % 29 <> 0
"""

# Cross-source 3-gram overlap matrix: distinct (source, md5(shingle))
# pairs, gram-keyed self-join (fan-out bounded by |sources|^2 per
# gram), integer-ppm Jaccard/containment via floor division.
TRAINING_ORACLES["source_overlap_matrix"] = """
WITH words AS (
  SELECT source,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS w
  FROM documents
),
sg AS (
  SELECT DISTINCT source, md5(sh) AS g FROM (
    SELECT source,
           unnest(list_transform(range(1, len(w) - 1),
                  i -> array_to_string(w[CAST(i AS BIGINT):CAST(i + 2 AS BIGINT)], ' '))) AS sh
    FROM words WHERE len(w) >= 3
  )
),
per_src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM sg GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.shared_grams,
       ga.n_grams AS grams_a,
       gb.n_grams AS grams_b,
       CAST((1000000 * p.shared_grams)
            // (ga.n_grams + gb.n_grams - p.shared_grams) AS BIGINT) AS jaccard_ppm,
       CAST((1000000 * p.shared_grams) // ga.n_grams AS BIGINT) AS contain_a_ppm,
       CAST((1000000 * p.shared_grams) // gb.n_grams AS BIGINT) AS contain_b_ppm
FROM pairs p
JOIN per_src ga ON ga.source = p.source_a
JOIN per_src gb ON gb.source = p.source_b
"""

# DSIR importance weights: the bucket score is quantized ONCE to
# micro-nats (floor(1e6 * ln(ratio))) so the per-doc accumulation is
# exact BIGINT — the only float op is that single ln per bucket, and
# its ratio argument is built from exact integers with the SAME op
# order as the Spark side (bit-identical double in, <=1 ulp ln out;
# floor-boundary distance audited in tests/test_round2_curation.py).
# DuckDB SUM(BIGINT) -> HUGEINT, hence the CASTs.
TRAINING_ORACLES["dsir_importance_weights"] = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, lang, g,
         CAST(('0x' || substr(md5(g), 1, 4)) AS BIGINT) % 64 AS bucket
  FROM (
    SELECT doc_id, lang, unnest(list_concat(
      tk,
      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
    )) AS g
    FROM toks
  )
),
counts AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS r_b,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t_b
  FROM grams GROUP BY bucket
),
totals AS (
  SELECT CAST(CAST(SUM(r_b) AS BIGINT) AS DOUBLE) AS r_tot,
         CAST(CAST(SUM(t_b) AS BIGINT) AS DOUBLE) AS t_tot
  FROM counts
),
scores AS (
  SELECT bucket,
         CAST(floor(1000000.0 * ln(
           (CAST(t_b + 1 AS DOUBLE) * (r_tot + 64.0))
           / (CAST(r_b + 1 AS DOUBLE) * (t_tot + 64.0))
         )) AS BIGINT) AS score_e6
  FROM counts CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(score_e6) AS BIGINT) AS dsir_score_e6
  FROM grams JOIN scores USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.dsir_score_e6, 0) AS BIGINT) AS dsir_score_e6,
       COALESCE(p.dsir_score_e6, 0) >= 0 AS kept
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""

# Within-doc repetition: per-row list expressions, integer ppm via
# floor division on both engines (// in DuckDB, div in Spark).
# DuckDB range(1, x) is empty for x <= 1, so short docs need no guard
# here (Spark needs the CASE — its sequence() descends).
TRAINING_ORACLES["repetition_ngram_quality"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' ')) AS grams
  FROM toks
),
counted AS (
  SELECT doc_id,
         CAST(len(grams) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
  FROM g
)
SELECT doc_id, n_grams, n_distinct,
       CAST(CASE WHEN n_grams > 0
                 THEN (1000000 * (n_grams - n_distinct)) // n_grams
                 ELSE 0 END AS BIGINT) AS rep_ppm,
       (CASE WHEN n_grams > 0
             THEN (1000000 * (n_grams - n_distinct)) // n_grams
             ELSE 0 END) >= 200000 AS repetitive
FROM counted
"""

# Bigram-LM scoring: integer-scaled conditional probabilities
# floor(1e9 * c_bigram / c_prefix) accumulate exactly (no float-sum
# order sensitivity). c_bg * 1e9 stays under int64 through ~1e9
# bigram occurrences per distinct bigram; beyond that, widen to
# decimal as heavy_hitters_exact does.
TRAINING_ORACLES["bigram_lm_quality"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
  FROM documents
),
big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
),
bgc AS (SELECT bg, COUNT(*) AS c_bg FROM big GROUP BY bg),
pre AS (
  SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS c_pre
  FROM big GROUP BY 1
),
scaled AS (
  SELECT doc_id, (c_bg * 1000000000) // c_pre AS p_scaled
  FROM big
  JOIN bgc USING (bg)
  JOIN pre ON string_split(bg, ' ')[1] = pre.w1
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(p_scaled) // COUNT(*) AS BIGINT) AS mean_p_e9
FROM scaled GROUP BY doc_id
"""

# Audio stats: sample i = (byte_i - 128) * 256 over the UTF-8 text
# bytes (ASCII fixture -> ord == byte). Integer-exact peak / energy /
# frame count / floor-div microsecond duration reproduce the full
# WAV encode -> decode -> analyze chain.
TRAINING_ORACLES["audio_clip_stats"] = """
WITH s AS (
  SELECT doc_id, (ord(substring(text, i, 1)) - 128) * 256 AS smp
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents)
)
SELECT doc_id AS media_id,
       COUNT(*) AS n_frames,
       CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
       CAST(SUM(smp * smp) AS BIGINT) AS energy,
       CAST(COUNT(*) * 1000000 // 16000 AS BIGINT) AS duration_us
FROM s GROUP BY doc_id
"""

# Decimation keeps byte positions 1, 5, 9, ... (every 4th frame) and
# divides the sample rate, so duration is computed at 4000 Hz.
TRAINING_ORACLES["audio_downsample_stats"] = """
WITH s AS (
  SELECT doc_id, (ord(substring(text, i, 1)) - 128) * 256 AS smp
  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents)
  WHERE (i - 1) % 4 = 0
)
SELECT doc_id AS media_id,
       COUNT(*) AS n_frames,
       CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
       CAST(SUM(smp * smp) AS BIGINT) AS energy,
       CAST(COUNT(*) * 1000000 // 4000 AS BIGINT) AS duration_us
FROM s GROUP BY doc_id
"""

# Vocabulary coverage: top-16 tokens (the fixture vocabulary is ~31
# tokens, so a larger vocab would cover everything and leave the OOV
# path data-unexercised — a 0=0 oracle match proves nothing) by (count desc, token asc) is a
# deterministic total order, so both engines pick the same vocab.
TRAINING_ORACLES["vocab_coverage_stats"] = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
  ) ORDER BY cnt DESC, tok LIMIT 16
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM tok LEFT JOIN vocab v USING (tok)
GROUP BY doc_id
"""

# The UDTF path must reproduce the expression path bit-for-bit: same
# oracle as bigram_topk.
TRAINING_ORACLES["udtf_ngram_topk"] = TRAINING_ORACLES["bigram_topk"]

TRAINING_ORACLES["orc_roundtrip_stats"] = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM documents GROUP BY source
"""

# binaryFile ingest of the deterministic 12x8 P6 clips: 12-byte header
# + 288 cycled text bytes = 300 bytes; md5 over header || pixbuf.
TRAINING_ORACLES["binary_file_ingest"] = """
SELECT doc_id AS media_id,
       CAST(300 AS BIGINT) AS n_bytes,
       md5('P6' || chr(10) || '12 8' || chr(10) || '255' || chr(10) ||
           substring(repeat(text, CAST(ceil(288.0 / GREATEST(length(text), 1)) AS BIGINT)),
                     1, 288)) AS content_md5
FROM documents WHERE doc_id < 200
"""


def _kmeans_oracle(k: int = 4, iters: int = 2, dims: int = 64) -> str:
    """CTE chain mirroring operators/clustering.kmeans_exact exactly:
    quantize -> (assign -> update) x iters -> final assign -> stats.
    Assignment ties break on cluster id; centroid means are truncating
    integer division (// and Spark's div agree, including negatives);
    empty clusters carry the previous centroid forward."""

    def assign(n: int, prev: str) -> str:
        return f"""
d{n} AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(range(1, {dims + 1}),
                  i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
  FROM q CROSS JOIN {prev} c
),
a{n} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{n}
  ) WHERE rn = 1
)"""

    def update(n: int, prev: str) -> str:
        return f"""
s{n} AS (
  SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
  FROM (
    SELECT a{n}.cid, t.dim, q.v[t.dim] AS val
    FROM a{n}
    JOIN q USING (vec_id)
    CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS dim) t
  )
  GROUP BY cid, dim
),
c{n} AS (
  SELECT cid, list(m ORDER BY dim) AS v FROM s{n} GROUP BY cid
  UNION ALL
  SELECT cid, v FROM {prev}
  WHERE cid NOT IN (SELECT DISTINCT cid FROM a{n})
)"""

    parts = [
        f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT {k})
)"""
    ]
    prev = "c0"
    for n in range(1, iters + 1):
        parts.append(assign(n, prev))
        parts.append(update(n, prev))
        prev = f"c{n}"
    parts.append(assign(iters + 1, prev))
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT CAST(cid AS BIGINT) AS cluster_id,
       COUNT(*) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS total_dist
FROM a{iters + 1}
GROUP BY cid
"""


TRAINING_ORACLES["kmeans_cluster_stats"] = _kmeans_oracle()

# Sliding-window chunk geometry + byte-exact chunk text: the window
# math is pure integer arithmetic mirrored term-for-term, and the
# chunk md5 re-slices the same whitespace token list — an off-by-one
# in either engine's window/stride breaks the hash.
TRAINING_ORACLES["chunk_overlap_docs"] = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents WHERE length(text) > 0
),
n AS (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM tk
  WHERE len(tk) > 0
),
c AS (
  SELECT doc_id, tk, n,
         CASE WHEN n <= 64 THEN 1 ELSE ((n - 64 + 47) // 48) + 1 END AS n_chunks
  FROM n
),
x AS (
  SELECT doc_id, tk, n, CAST(u.i AS BIGINT) AS chunk_idx
  FROM c, LATERAL (SELECT unnest(range(c.n_chunks)) AS i) u
)
SELECT doc_id,
       chunk_idx,
       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
       CAST(LEAST(64, n - chunk_idx * 48) AS BIGINT) AS chunk_len,
       md5(array_to_string(
             tk[CAST(chunk_idx * 48 + 1 AS INTEGER)
                : CAST(chunk_idx * 48 + LEAST(64, n - chunk_idx * 48) AS INTEGER)],
             ' ')) AS chunk_md5
FROM x
"""

TRAINING_ORACLES["padding_waste_stats"] = r"""
WITH tk AS (
  SELECT CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n
  FROM documents WHERE length(text) > 0
),
nz AS (SELECT n FROM tk WHERE n > 0),
b AS (SELECT ((n + 31) // 32) * 32 AS bucket, n FROM nz)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens,
       CAST(bucket * COUNT(*) - SUM(n) AS BIGINT) AS pad_tokens,
       CAST((SUM(n) * 10000) // (bucket * COUNT(*)) AS BIGINT) AS utilization_bp
FROM b GROUP BY bucket
"""


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled greedy k-center twin (clustering.kcenter_greedy):
    same floor(x*127) grid, same exact squared-L2 via the dot-product
    identity (every list_dot_product operand is an integer-valued
    double below 2^53, so the arithmetic is exact), same
    (md DESC, vec_id ASC) argmax. Static SQL — nothing is trained, so
    no per-SF replication is needed."""

    def dist(a: str, b: str) -> str:
        return (
            f"CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
            f" + list_dot_product({b}, {b}) AS BIGINT)"
        )

    chain = [
        """q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS qv
  FROM embeddings
)""",
        "c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT q.vec_id, q.qv, "
        + dist("q.qv", "c1.qv")
        + " AS md FROM q, c1)",
    ]
    selects = [
        "SELECT CAST(1 AS INT) AS sel_round, c1.vec_id AS center_id,"
        " CAST(0 AS BIGINT) AS sel_dist_sq FROM c1"
    ]
    for r in range(2, k + 1):
        chain.append(
            f"p{r} AS (SELECT vec_id, qv, md FROM d{r - 1}"
            " ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if r < k:
            chain.append(
                f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.qv,"
                f" LEAST(d.md, {dist('d.qv', f'p{r}.qv')}) AS md"
                f" FROM d{r - 1} d, p{r})"
            )
        selects.append(
            f"SELECT CAST({r} AS INT), p{r}.vec_id,"
            f" CAST(p{r}.md AS BIGINT) FROM p{r}"
        )
    return "WITH " + ",\n".join(chain) + "\n" + "\nUNION ALL ".join(selects)


TRAINING_ORACLES["embed_kcenter_coreset"] = _kcenter_oracle()
