"""Join operators (SURVEY.md §2.3 J1-J3).

Scale posture:
- J1 dim joins get an explicit ``F.broadcast`` hint — the dims here
  (countries mapping, region/nation) are tiny relative to facts, and
  at 100 TB a broadcast-hash join removes the fact-side shuffle
  entirely. AQE would usually pick this anyway; the hint makes it
  deterministic.
- J2 star assembly is a chain of left joins on one composite key. All
  joins share the SAME key, so Spark shuffles the fact side once and
  reuses the exchange across the chain (verify: one Exchange per input,
  not per join, in the physical plan). For repeated runs over a stable
  lake layout, bucketing both sides by the key removes even that.
- J3 key-membership uses ``left_semi`` when only existence is needed —
  no payload duplication, no row multiplication on skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dim_join(
    fact: DataFrame, dim: DataFrame, left_col: str, right_col: str
) -> DataFrame:
    """Inner equi-join of a fact frame to a broadcast dimension on
    ``fact[left_col] == dim[right_col]`` (J1; the reference joins
    ``location == location_map``, main.py:102-103).
    """
    d = F.broadcast(dim)
    return fact.join(d, fact[left_col] == d[right_col], "inner")


def star_left_join(
    base: DataFrame,
    satellites: Sequence[DataFrame],
    on: Sequence[str],
) -> DataFrame:
    """Left-join chain assembling a wide fact row (J2, main.py:213-220).

    Every satellite must expose exactly the ``on`` columns plus its
    payload; the shared join key keeps one partitioning across the
    whole chain.
    """
    out = base
    for sat in satellites:
        out = out.join(sat, list(on), "left")
    return out


def key_membership_join(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """Key-membership filter (J3, main.py:277) as a left-semi join:
    cheaper than the reference's inner join, and no duplication if
    ``keys`` is not unique.
    """
    return df.join(keys, list(on), "left_semi")


def anti_join(df: DataFrame, other: DataFrame, on: Sequence[str]) -> DataFrame:
    """NOT EXISTS on the join key (used by the merge fallback, J6)."""
    return df.join(other, list(on), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Backward as-of join: each left row picks the latest right row
    with ``right_ts <= left_ts`` per key (SQL ``ASOF LEFT JOIN``); each
    right payload column ``c`` comes back as ``c_asof``.

    Not expressible as an equi-join, and a naive range join is
    quadratic per key. This is the scalable union-scan shape: tag both
    sides, union, ONE shuffle on (key) with an ordered window, carry
    the most recent right payload forward with
    ``last(ignorenulls)``. Cost is a single sort-shuffle of |L|+|R| —
    survives skew and 100× scale-up where a per-key nested loop dies.

    The right payload travels as one struct so all its fields come
    from the SAME right row even when payload columns contain nulls.
    Equal timestamps match (``<=``): right rows sort before left rows
    at the same instant. Ties among right rows at one instant resolve
    to the struct-wise max — deterministic, matching no particular
    vendor (DuckDB leaves it unspecified).
    """
    keys = list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    payload = F.struct(
        F.col(right_ts).alias(right_ts), *[F.col(c) for c in payload_cols if c != right_ts]
    )
    r = right.select(*keys, F.col(right_ts).alias("__t"), payload.alias("__p")).withColumn(
        "__side", F.lit(0)
    )
    l = left.withColumn("__t", F.col(left_ts)).withColumn("__side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__p").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__last_p", F.last("__p", ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == 1).drop("__t", "__side", "__p")
    for c in payload_cols:
        out = out.withColumn(f"{c}_asof", F.col("__last_p").getField(c))
    return out.drop("__last_p")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str | None = "INTERVAL 30 MINUTES",
) -> DataFrame:
    """Left interval join: right rows with ``left_ts - lower < right_ts
    <= left_ts`` per key.

    Executes as an equi-join on ``on`` with the range as a join-time
    predicate — the shuffle is keyed, so cost is bounded by per-key
    match counts, not |L|×|R|. At scale, if single keys are hot, add a
    coarse time-bucket column to both sides and join on (key, bucket)
    ∪ (key, bucket-1) to bound the probe range.

    Right columns (except the keys) must not collide with left's —
    rename before calling. Both sides are plan-aliased so self-joins
    (left and right filtered from the same source) resolve correctly.
    """
    l, r = left.alias("__rj_l"), right.alias("__rj_r")

    def lc(c: str) -> Column:
        return F.col(f"__rj_l.{c}")

    def rc(c: str) -> Column:
        return F.col(f"__rj_r.{c}")

    conds: list[Column] = [lc(k) == rc(k) for k in on]
    if lower is not None:
        conds.append(rc(right_ts) > lc(left_ts) - F.expr(lower))
    conds.append(rc(right_ts) <= lc(left_ts))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    joined = l.join(r, cond, "left")
    return joined.select(
        *[lc(c).alias(c) for c in left.columns],
        *[rc(c).alias(c) for c in right.columns if c not in on],
    )
