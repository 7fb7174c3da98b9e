"""The shared set-expansion kernels (operators/pairs)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from fsc_etl_spark.operators.pairs import expand_pairs, expand_triples

SIZES = (0, 1, 2, 3, 7)


def _sets(spark):
    # distinct, unsorted input: the kernels expand array_sort's output
    rows = [(k, [(7 * i + 3) % 11 for i in range(k)]) for k in SIZES]
    return spark.createDataFrame(rows, "k int, xs array<int>").select(
        "k", F.array_sort("xs").alias("ps")
    )


def _expected(r):
    return {
        k: sorted(combinations(sorted((7 * i + 3) % 11 for i in range(k)), r))
        for k in SIZES
    }


def test_expand_pairs_matches_combinations(spark):
    out = _sets(spark).select("k", expand_pairs("ps", "a", "b").alias("p"))
    got = {k: [] for k in SIZES}
    for row in out.select("k", "p.a", "p.b").collect():
        got[row.k].append((row.a, row.b))
    # each set's pairs come out once, in ascending order
    assert got == _expected(2)


def test_expand_triples_matches_combinations(spark):
    out = _sets(spark).select("k", expand_triples("ps", "a", "b", "c").alias("p"))
    got = {k: [] for k in SIZES}
    for row in out.select("k", "p.a", "p.b", "p.c").collect():
        got[row.k].append((row.a, row.b, row.c))
    assert got == _expected(3)
