"""Bloom-filter join pruning composed from SQL primitives.

Spark's runtime row-level filtering (`spark.sql.optimizer.runtime.
bloomFilter.enabled`) injects exactly this shape automatically for some
join plans, but its `bloom_filter_agg` / `might_contain` expressions are
not registered as user-facing functions, so a hand-rolled variant is
needed when the build side is an arbitrary DataFrame (a filtered key
set, a blocklist, a dimension slice) rather than one side of a single
equi-join.

The construction stays entirely in JVM expressions:

- build: each key emits ``k`` probe positions ``pmod(xxhash64(key, i),
  m)``; positions aggregate into 64-bit words with ``bit_or(shiftleft
  (1L, bit))`` — a partial-agg shuffle of at most ``m/64`` rows,
  independent of build cardinality. The dense word array is collected
  driver-side (bounded by the sketch size — 2^16 bits is 8 KiB — never
  by the data) and re-enters the plan as ONE array literal.
- probe: membership is ``k`` bit tests against that literal via
  ``element_at`` + ``bitwiseAND`` — pure whole-stage-codegen
  expressions, no UDF, no shuffle, evaluated map-side before the fact
  rows ever reach an exchange.

False-positive rate is the textbook ``(1 - e^{-kn/m})^k``; with the
defaults (m=2^16, k=5) a 4k-key build keeps fp ≈ 0.2%. False positives
only cost work, never correctness: `bloom_pruned_semi_join` always
finishes with the exact semi join over the survivors, so its result
equals the plain semi join while the shuffle sees only the pruned
fraction. At 100 TB that is the difference between shuffling a full
fact table and shuffling ~the matching rows — the same reason engines
ship build-side bloom filters to scan nodes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_BITS = 1 << 16
DEFAULT_NUM_HASHES = 5


def _probe_positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The k probe positions for one key via Kirsch-Mitzenmacher
    double hashing: p_i = (h1 + i*h2) mod m from TWO xxhash64
    evaluations instead of k — same asymptotic false-positive rate
    (Kirsch & Mitzenmacher, "Less Hashing, Same Performance"), and the
    probe side is the hot path (evaluated per fact row, map-side,
    before any exchange). h2 is forced odd so the stride never
    degenerates to a single position on the power-of-two m."""
    # Reduce mod m BEFORE combining: (h1 + i*h2) mod m ==
    # (h1 mod m + i*(h2 mod m)) mod m, and the reduced operands are
    # < m ≤ 2^30, so the combination cannot overflow int64 under ANSI
    # arithmetic. Oddness of h2 survives reduction mod a power of two.
    h1 = F.pmod(F.xxhash64(col, F.lit(0)), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)).bitwiseOR(F.lit(1)), F.lit(num_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(num_hashes)
    ]


def build_bloom(
    keys: DataFrame,
    col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> list[int]:
    """Aggregate the key set into a dense ``num_bits``-bit filter,
    returned as ``num_bits/64`` longs.

    The collect is bounded by the sketch size (one row per set word,
    ≤ m/64), not by ``keys`` — the same driver-sized footprint as
    ``df.stat.bloomFilter`` but with the bits usable from SQL
    expressions afterwards.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    pos = F.explode(
        F.array(*_probe_positions(F.col(col), num_bits, num_hashes))
    ).alias("p")
    words = (
        keys.select(pos)
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.pmod(F.col("p"), F.lit(64)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, b))").alias("bits"))
    )
    dense = [0] * (num_bits // 64)
    for row in words.collect():
        dense[row["w"]] = row["bits"]
    return dense


def might_contain(
    bloom_words: Sequence[int],
    col: Column,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> Column:
    """Membership predicate against a `build_bloom` word array.

    One array literal (shipped once per task with the serialized plan)
    plus ``k`` bit tests; conjunction short-circuits inside codegen.
    """
    num_bits = len(bloom_words) * 64
    arr = F.lit(list(bloom_words))
    cond = F.lit(True)
    for p in _probe_positions(col, num_bits, num_hashes):
        word = F.element_at(arr, (p / 64).cast("int") + F.lit(1))
        # F.shiftleft only accepts a Python-int shift amount; the SQL
        # function takes a column-valued one.
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def bloom_pruned_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_col: str,
    key_col: str,
) -> DataFrame:
    """Exact semi join with a bloom pre-filter on the fact side.

    Result is identical to ``fact ⋉ keys`` (false positives are removed
    by the final exact semi join); the bloom test runs map-side before
    the shuffle, so only ~matching fact rows are exchanged. Use when
    the key set is too large to broadcast as an exact set but its
    bloom fits in a literal; with a broadcastable key set the plain
    broadcast semi join (J3) is already optimal.
    """
    words = build_bloom(keys, key_col)
    pruned = fact.filter(might_contain(words, F.col(fact_col)))
    rhs = keys.select(F.col(key_col).alias(fact_col)).distinct()
    return pruned.join(rhs, fact_col, "left_semi")
