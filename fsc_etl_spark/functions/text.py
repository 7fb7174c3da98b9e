"""Text-analysis column functions for training-data pipelines.

All pure Catalyst expressions (no Python UDFs): tokenization, shingle
generation, quality metrics, a stopword-vote language-ID heuristic,
and hash fingerprints. Every function here has a line-for-line ANSI
SQL mirror in plans/oracles_training.py — that parity constrains the
building blocks to constructs both engines evaluate identically
(regexp_replace char-classes, md5, element-wise array ops).

At 100 TB these run as whole-stage-codegen'd projections over the
documents scan — no shuffle, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword votes per language for the lang-ID heuristic. Deliberately
# tiny and fixed: the heuristic must be a deterministic pure function
# (see SURVEY.md §2.12 / driver brief), not a trained model.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "une"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # deterministic tie-break: alphabetical


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties removed (split on \\s+)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


# GPT-2-style pre-tokenizer shape, simplified to constructs whose
# semantics match across Java regex and RE2 (the DuckDB oracle):
# letter runs, digit runs, and single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column) -> Column:
    """Subword-style token count via the BPE-ish pre-tokenizer regex —
    the cheap proxy for "how many LLM tokens is this document" used to
    budget training mixes. Pure codegen (regexp_extract_all + size)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0)).cast("bigint")


def char_count(col: Column) -> Column:
    return F.length(col).cast("bigint")


def punct_count(col: Column) -> Column:
    """Characters in a fixed punctuation class — counted by deleting
    everything else (regexp_replace parity with DuckDB's 'g' flag)."""
    return F.length(F.regexp_replace(col, r"[^.,;:!?]", "")).cast("bigint")


def stopword_count(col: Column, words: list[str]) -> Column:
    """Tokens that are in ``words`` (multiset count, not distinct)."""
    return F.size(F.filter(tokens(col), lambda x: x.isin(*words))).cast("bigint")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation
    sanity + stopword presence — the standard cheap pre-filter shape
    for web-scale corpus cleaning. Exact-rational arithmetic is kept
    in doubles with single-rounding at the end for oracle parity."""
    n_tok = token_count(col)
    n_char = char_count(col)
    punct_ratio = punct_count(col) / F.greatest(n_char, F.lit(1))
    stop_ratio = stopword_count(col, LANG_STOPWORDS["en"]) / F.greatest(n_tok, F.lit(1))
    len_ok = (n_tok >= 10) & (n_tok <= 1000)
    return F.round(
        F.when(len_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0, F.lit(0.25)).otherwise(F.lit(0.0)),
        2,
    )


def lang_votes(col: Column) -> dict[str, Column]:
    """Stopword hit-count per candidate language."""
    return {lang: stopword_count(col, LANG_STOPWORDS[lang]) for lang in LANG_ORDER}


def lang_id(col: Column) -> Column:
    """argmax of lang_votes with a fixed alphabetical tie-break chain:
    the first language (in LANG_ORDER) whose vote equals the max wins.
    'und' (undetermined) when no stopword hits at all."""
    votes = lang_votes(col)
    max_vote = F.greatest(*votes.values())
    out = F.lit("und")
    # Build the CASE chain in reverse so earlier languages win ties.
    for lang in reversed(LANG_ORDER):
        out = F.when((votes[lang] == max_vote) & (max_vote > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint_md5(col: Column) -> Column:
    """Canonical-text content fingerprint (md5 of lowercased trim)."""
    return F.md5(F.lower(F.trim(col)))


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Word n-gram shingles (space-joined) from a MATERIALIZED token
    array column.

    ``toks`` must be a bound attribute (produced by a prior
    projection), not a nested expression: non-lambda expressions
    inside a higher-order-function body are re-evaluated per element,
    so shingling over ``split(text)`` inline costs O(L²) regex work
    per document — materializing first makes each shingle O(n)
    element_at lookups.
    """
    count = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short
    # docs to an empty shingle set instead.
    positions = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        positions,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )

