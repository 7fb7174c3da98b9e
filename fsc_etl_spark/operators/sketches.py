"""Deterministic mergeable sketches: count-min, HyperLogLog
registers, and a Misra–Gries frequent-items summary, built from an
md5 hash family (and, for Misra–Gries, value-based prunes) so every
counter/register/estimate is integer-exact and bit-reproducible — the
same constructions an ANSI-SQL oracle can replay, which upgrades the
sketch family from rows-only checks to full hash parity.

No reference twin: the reference engine (a single-notebook Databricks
ETL, /root/reference/main.py) has no sketch surface; these extend
SURVEY.md §2.12's training-pipeline operators (approximate counting /
distinct estimation are the standard first pass over web-scale event
and document streams).

Scale shape: both sketches are pure map-side partial aggregations —
the count-min build collapses to d·w counter cells and the HLL build
to 2^p register cells BEFORE the exchange (Spark's partial hash
aggregate), so the shuffle moves a bounded few-KB state per task no
matter how many input rows there are. That bounded-state merge is the
whole point of sketches at 100 TB, and it falls out of groupBy on the
(row, bucket) key with built-in expressions only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: count-min geometry: 4 hash rows x 64 counters. Small width on
#: purpose — the test fixtures have O(100) distinct keys, and a sketch
#: wider than the key space would never collide, leaving the min-of-
#: rows estimate untested.
CMS_DEPTH = 4
CMS_WIDTH = 64

#: HLL precision: 2^6 = 64 registers; hash is 60 usable md5 bits, so
#: the rank field is the remaining 54 bits.
HLL_P_BITS = 6
HLL_BUCKETS = 1 << HLL_P_BITS
HLL_RANK_BITS = 60 - HLL_P_BITS

#: Misra–Gries shard count of :func:`mg_frequent`; the oracles replay
#: the same ``md5(shard_col) mod MG_SHARDS`` sharding.
MG_SHARDS = 16


def _cms_bucket(key: F.Column, j: int) -> F.Column:
    """Row-j counter index for a key: 60 md5 bits mod the row width.
    Mirrored textually by the oracle's ('0x'||substr(md5(...)))::BIGINT
    idiom — identical md5, identical truncation, identical mod."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cms{j}:"), key)), 1, 15), 16, 10
    ).cast("long")
    return (h % CMS_WIDTH).alias(f"b{j}")


def cms_build(df: DataFrame, key_col: str, weight_col: str | None = None) -> DataFrame:
    """Count-min counter table over ``df[key_col]`` (cast to string):
    one row per (hash-row j, bucket b) with the total weight landing
    there. ``weight_col`` (BIGINT) pre-aggregated inputs are supported
    because count-min is additive — building from per-key counts or
    from raw rows yields identical counters.

    Returns (j, b, total) — at most CMS_DEPTH · CMS_WIDTH rows.
    """
    key = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).cast("long").alias("j"), _cms_bucket(key, j).alias("b"))
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("jb"),
        w.alias("__w"),
    )
    return (
        pairs.groupBy(F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
        .agg(F.sum("__w").alias("total"))
    )


def cms_estimate(keys: DataFrame, counters: DataFrame, key_col: str) -> DataFrame:
    """Point estimate for every row of ``keys``: the minimum of the
    key's CMS_DEPTH counters (the classic count-min upper bound —
    never below the true count). ``counters`` is broadcast (bounded at
    d·w rows), so the probe is one map-side join + a groupBy on the
    key the caller already carries.

    Probe keys need not come from the build set: a key whose (j, b)
    cells are all absent gets the classic unseen-key estimate 0 (a
    missing cell is a zero counter, and the min over rows includes
    it), rather than vanishing from the output.

    Returns ``keys``' columns plus ``est_cnt`` (BIGINT).
    """
    key = F.col(key_col).cast("string")
    probe = keys.select(
        *keys.columns,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).cast("long").alias("j"), _cms_bucket(key, j).alias("b"))
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("jb"),
    ).select(*keys.columns, F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    return (
        probe.join(F.broadcast(counters), ["j", "b"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("total"), F.lit(0).cast("long"))).alias("est_cnt"))
    )


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """Dense HyperLogLog register file over ``df[key_col]``: for each
    of the 2^p buckets (selected by the low p bits of a 60-bit md5
    hash), the maximum over keys of ``rank = 1 + leading zeros`` of
    the remaining rank bits. Registers are pure integers — the float
    harmonic-mean estimate is a downstream fold the caller can apply —
    so the construction itself hash-matches an oracle that replays the
    same md5/bin arithmetic.

    rank uses ``bin()`` (identical minimal-width semantics in Spark
    and DuckDB): a rank-field value v > 0 has ``length(bin(v))``
    significant bits, so its leading-zero count within RANK_BITS is
    ``RANK_BITS - length(bin(v))``; v = 0 means all RANK_BITS are
    zero (rank = RANK_BITS + 1 — ``bin(0) = '0'`` needs the special
    case on both sides).

    Returns (bucket, register): exactly one row per non-empty bucket.
    """
    hashed = df.select(
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("__h")
    )
    # integer div, NOT `/`: float division loses bits above 2^53 and
    # the hash is 60 bits wide.
    fields = hashed.select(
        (F.col("__h") % HLL_BUCKETS).alias("bucket"),
        F.expr(f"__h div {HLL_BUCKETS}").alias("__v"),
    )
    rank = (
        F.when(F.col("__v") == 0, F.lit(HLL_RANK_BITS + 1))
        .otherwise(F.lit(HLL_RANK_BITS) - F.length(F.bin(F.col("__v"))) + 1)
        .cast("long")
        .alias("rank")
    )
    return (
        fields.select("bucket", rank)
        .groupBy("bucket")
        .agg(F.max("rank").alias("register"))
    )


def cms_merge(*counter_frames: DataFrame) -> DataFrame:
    """Union count-min sketches: per-cell SUM of the counters —
    count-min's mergeability (counters are additive), the property
    that lets per-partition / per-day partial sketches combine into
    exactly the sketch of the unioned input. Bit-exact (BIGINT sums),
    so a merged sketch hash-matches the single-pass oracle.
    """
    if not counter_frames:
        raise ValueError("cms_merge needs at least one counter frame")
    u = counter_frames[0]
    for f in counter_frames[1:]:
        u = u.unionByName(f)
    return u.groupBy("j", "b").agg(F.sum("total").alias("total"))


def hll_merge(*register_frames: DataFrame) -> DataFrame:
    """Union HLL sketches: per-bucket max of the registers. This is
    the mergeability that makes the sketch distributed — partial
    sketches built per partition / per day / per shard combine into
    exactly the sketch of the unioned input (max is associative,
    commutative, idempotent). Bit-exact, so a merged sketch
    hash-matches the single-pass oracle over the union.
    """
    if not register_frames:
        raise ValueError("hll_merge needs at least one register frame")
    u = register_frames[0]
    for f in register_frames[1:]:
        u = u.unionByName(f)
    return u.groupBy("bucket").agg(F.max("register").alias("register"))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Raw HyperLogLog estimate ``alpha_m · m² / sum_b 2^(-reg_b)``
    from a register frame (empty buckets contribute 2^0 = 1).

    Floats, but still hash-exact across engines: every ``2^-reg`` term
    is an exact dyadic rational and the harmonic sum folds over the
    registers in BUCKET ORDER (sorted collect + ``aggregate``), so
    both engines perform the identical IEEE additions in the identical
    sequence — order is what float reproducibility needs, not integer
    arithmetic. The bias constant is the same double literal
    expression on both sides. Raw estimate only (no small/large-range
    corrections — those need ``ln``, whose libm parity is not
    guaranteed).

    One row: (n_used_buckets, harmonic_sum, hll_estimate).
    """
    m = HLL_BUCKETS
    folded = registers.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "register"))).alias("rs"),
        F.count(F.lit(1)).alias("nb"),
    ).select(
        F.col("nb").alias("n_used_buckets"),
        (
            F.aggregate(
                F.col("rs"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.pow(F.lit(2.0), -x["register"].cast("double")),
            )
            + (F.lit(m) - F.col("nb")).cast("double")
        ).alias("harmonic_sum"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    return folded.select(
        "n_used_buckets",
        "harmonic_sum",
        (alpha * m * m / F.col("harmonic_sum")).alias("hll_estimate"),
    )


def mg_prune(
    counts: DataFrame,
    k: int,
    group_cols: tuple[str, ...] = (),
    key_col: str = "key",
) -> DataFrame:
    """One Misra–Gries prune step: within each ``group_cols`` group,
    reduce a (key, count) table to at most ``k`` surviving keys by
    subtracting the (k+1)-th largest count from every key and dropping
    the non-positive remainder.

    This is the merge operation of the MERGEABLE frequent-items
    summary (Agarwal et al. 2012, "Mergeable Summaries"): pruning
    exact counts to k items removes total weight L >= (k+1)·t (the
    top k+1 keys each lose the full t), while any single key loses at
    most t <= L/(k+1) — so across any tree of prunes the cumulative
    undercount of a key is bounded by n/(k+1), n the total stream
    weight. Unlike the classic streaming Misra–Gries loop, this
    formulation is ORDER-INDEPENDENT: the input is an exact count
    table and t is a value (the count at row_number k+1 under the
    total order (count DESC, key ASC)), so the surviving summary is a
    pure function of the multiset — bit-reproducible across engines,
    partitionings, and task retries, which is what lets a DuckDB
    oracle replay it exactly.

    Scale shape: one window over each group's count table (the window
    is partitioned by ``group_cols``; per-group width is bounded by
    the group's distinct-key count) + a map-side subtract/filter. No
    all-pairs, no driver state.

    ``counts`` holds the count in column ``cnt``. Returns ``group_cols +
    (key_col, cnt)`` with the pruned (undercounted) estimates.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    # The ungrouped prune runs a deliberately UNPARTITIONED window: its
    # input is always a prior aggregate (<= MG_SHARDS·k rows), which the
    # plan gate (tests/test_plan_quality.py path-bounded walk) verifies
    # — partitioning by a literal would funnel identically while
    # evading that audit.
    part = Window.partitionBy(*group_cols) if group_cols else Window
    w = part.orderBy(F.col("cnt").desc(), F.col(key_col).asc())
    rn = F.row_number().over(w)
    thresh = counts.withColumn("__rn", rn).filter(F.col("__rn") == k + 1)
    t_frame = thresh.select(
        *group_cols, F.col("cnt").alias("__t")
    )
    if group_cols:
        joined = counts.join(F.broadcast(t_frame), list(group_cols), "left")
    else:
        # left join on a constant key, NOT a crossJoin: with fewer than
        # k+1 distinct keys the threshold frame is EMPTY, and a cross
        # join against an empty frame would drop every row instead of
        # applying t = 0.
        joined = counts.withColumn("__j", F.lit(0)).join(
            F.broadcast(t_frame.select(F.lit(0).alias("__j"), "__t")),
            "__j",
            "left",
        )
    est = (F.col("cnt") - F.coalesce(F.col("__t"), F.lit(0))).cast("long")
    return (
        joined.select(*group_cols, key_col, est.alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def mg_frequent(
    df: DataFrame,
    key_col: str,
    k: int,
    shard_col: str,
) -> DataFrame:
    """Distributed Misra–Gries frequent-items summary over
    ``df[key_col]``: shard rows deterministically by
    ``md5(shard_col) mod MG_SHARDS``, build exact per-shard counts
    (map-side partial aggregate + one keyed shuffle), prune each shard
    to k items (:func:`mg_prune`), then merge the <= MG_SHARDS·k
    surviving rows by summed count and prune once more globally.

    Guarantee (mergeable-summaries bound): the returned estimate
    undercounts every key by at most n/(k+1) total stream weight, and
    every key with true count > n/(k+1) survives. Deterministic end
    to end — the shard function is a hash of data (not
    spark_partition_id), and each prune is order-independent — so the
    summary itself hash-matches an ANSI-SQL replay.

    Returns (key_col, mg_est) with at most k rows.
    """
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mg:"), F.col(shard_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % MG_SHARDS
    ).alias("__shard")
    per_shard = (
        df.select(shard, F.col(key_col).alias("key"))
        .groupBy("__shard", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pruned = mg_prune(per_shard, k, group_cols=("__shard",))
    merged = pruned.groupBy("key").agg(F.sum("cnt").alias("cnt"))
    return mg_prune(merged, k).select(
        F.col("key").alias(key_col), F.col("cnt").alias("mg_est")
    )
