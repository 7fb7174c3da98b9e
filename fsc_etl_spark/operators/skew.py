"""Skew mitigation (100 TB posture, BASELINE.md north star).

Hot keys are what kill shuffles at scale: one reducer gets the whale
key's entire partition while 999 executors idle. Three standard
remedies, composable with everything else in the engine:

- :func:`salted_aggregate` — two-phase aggregation: explode the key
  space with a random-ish salt, partial-aggregate per (key, salt),
  then final-aggregate per key. Works for any algebraic aggregate
  (sum/count/min/max expressed as re-aggregable partials).
- :func:`salted_join` — replicate the SMALL side per salt value and
  salt the big side's key, so a hot key's rows spread over
  ``salt_buckets`` reducers instead of one.
- AQE's runtime skew-join splitting
  (``spark.sql.adaptive.skewJoin.enabled``, on in session.py) handles
  the cases it can see; explicit salting is for aggregations and for
  joins whose skew AQE's stats miss (e.g. post-filter hot keys).

The salt is ``pmod(hash(entire row), buckets)`` — deterministic (no
rand(): re-runs and retried tasks must re-produce identical salts or
shuffle-file reuse breaks), yet spreads a hot key's rows uniformly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, buckets: int) -> DataFrame:
    """Deterministic per-row salt in [0, buckets)."""
    return df.withColumn(SALT_COL, F.pmod(F.hash(*df.columns), F.lit(buckets)))


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``partial_aggs`` aggregate within (keys, salt); ``final_aggs``
    re-aggregate the partials per key and must reference the partial
    alias names (e.g. partial ``sum(x) as s`` → final ``sum(s) as
    sum_x``). Identical result to a direct groupBy for algebraic
    aggregates; the first shuffle fans a hot key over ``buckets``
    reducers.
    """
    partial = with_salt(df, buckets).groupBy(*keys, SALT_COL).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    buckets: int = 16,
) -> DataFrame:
    """Skew-safe inner equi-join: salt the big side, replicate the
    small side across all salt values, join on (keys, salt).

    Output equals ``big.join(small, on)`` for a unique-keyed small
    side. Replication multiplies the small
    side by ``buckets`` — keep it for genuinely small/broadcastable
    dims with hot fact keys that overflow a single reducer even under
    AQE.
    """
    keys = list(on)
    b = with_salt(big, buckets)
    s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(buckets).select(F.col("id").cast("int").alias(SALT_COL))
        )
    )
    return b.join(s, keys + [SALT_COL], "inner").drop(SALT_COL)


def heavy_hitters_exact(
    df: DataFrame,
    keys: Sequence[str],
    share: DataFrame,
) -> DataFrame:
    """Exact φ-heavy hitters (keys with frequency ≥ φ·N) without ever
    shuffling the long-tail key space twice.

    ``share`` is a 1-row DataFrame with bigint columns ``num``/``den``
    encoding φ = num/den as an exact rational — all comparisons are
    integer multiplies (``den·cnt ≥ num·n``), so the result is
    bit-identical to the SQL ``GROUP BY … HAVING`` twin with no float
    rounding at the threshold boundary. The products are computed in
    decimal(38,0): at cluster scale ``den·cnt`` / ``num·n`` can exceed
    2^63 and int64 arithmetic would silently wrap under non-ANSI Spark,
    flipping the threshold comparison (DuckDB promotes instead).

    Phase 1 (candidates): count per (input-partition, key) — partial
    aggregation makes this map-local — and keep keys that are φ-heavy
    WITHIN their partition. Pigeonhole guarantees this is a superset of
    the global heavy hitters: if a key were below φ·N_p in every
    partition p, summing gives < φ·N overall. Phase 2 (verify): exact
    recount of only the candidates (broadcast semi join), then the
    precise global threshold. The long tail — the reason a naive
    groupBy over a 100 TB key space spills — is discarded map-side in
    phase 1 and never crosses an exchange in phase 2.
    """
    from pyspark.sql import Window

    ks = list(keys)
    local = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", *ks)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # Partition total as a WINDOW over the same aggregated frame — one
    # lineage, so the heavy (pid, key) aggregate exists once in the
    # plan (a join against a separately-derived ptotal would recompute
    # the whole subtree; DataFrames share no physical result without
    # materialization).
    with_pn = local.withColumn(
        "__pn", F.sum("__c").over(Window.partitionBy("__pid"))
    )
    dec = "decimal(38,0)"
    cand = (
        with_pn.join(F.broadcast(share))
        .filter(
            F.col("den").cast(dec) * F.col("__c").cast(dec)
            >= F.col("num").cast(dec) * F.col("__pn").cast(dec)
        )
        .select(*ks)
        .distinct()
    )
    # Global N: a count-only pass — the scan prunes to zero columns,
    # far cheaper than re-deriving N from the keyed aggregate (which
    # would duplicate that subtree in the plan).
    total = df.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    exact = (
        df.join(F.broadcast(cand), ks, "left_semi")
        .groupBy(*ks)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.join(F.broadcast(total))
        .join(F.broadcast(share))
        .filter(
            F.col("den").cast(dec) * F.col("cnt").cast(dec)
            >= F.col("num").cast(dec) * F.col("__n").cast(dec)
        )
        .select(*ks, "cnt")
    )
