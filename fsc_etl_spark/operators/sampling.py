"""Systematic probability-proportional-to-size (PPS) sampling.

No reference twin: the reference engine (a single-notebook Databricks
ETL, /root/reference/main.py) has no sampling surface; this extends
SURVEY.md §2.12's training-pipeline operators. PPS is the standard
corpus-curation draw — sample documents proportionally to a size or
quality weight (token count, dedup-cluster mass, source priority) so
the sampled token budget tracks the weighted distribution without an
RNG: the systematic scheme is fully determined by the weights and a
total order, which is what lets a SQL oracle hash-match it.

Scheme: order rows by a deterministic total order; let ``cb`` be the
exclusive prefix sum of weights and ``stride = max(total div
n_target, 1)``. A row with weight ``w`` is drawn ``(cb + w) div
stride - cb div stride`` times — the number of stride gridpoints
falling inside its weight interval. Every row with ``w >= stride`` is
guaranteed selection (possibly multiple draws); smaller rows are hit
proportionally to ``w``. All BIGINT floor arithmetic.

Scale shape (round-6 rework + ADVICE r7 pin): the prefix sum is
two-phase — per-BUCKET running sums plus a broadcast per-bucket
offset — where the bucket id is DERIVED FROM DATA: approx-quantile
boundaries of the leading order column (one ``percentile_approx``
aggregate whose single output row is collected on the driver and
re-injected as LITERALS). The driver pin matters: the bucket is a
function of row + sketch output, the plan references the control
values from two branches (psums/offsets and the per-row binning),
and ApproximatePercentile's final merge is shuffle-arrival-order
dependent — a lazily shared control frame can be instantiated once
per branch by AQE with DIFFERENT boundaries, corrupting the sample.
Literals make both branches identical by construction. No
``spark_partition_id()``, no eager ``localCheckpoint`` pinning the
full table to replication-1 executor storage (the r5 version's
fault-tolerance hole at 100 TB), and the final plan stays assertable
(tests/test_plan_quality.py). The hits are invariant to the boundary
positions — the prefix sum depends only on the global order — so an
approximate quantile sketch is safe: boundaries only steer
parallelism, never values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pps_systematic(
    df: DataFrame,
    weight_col: str,
    order_by: Sequence[str],
    n_target: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Systematic PPS draw of ~``n_target`` rows (with multiplicity)
    proportional to BIGINT ``weight_col`` > 0, ordered by ``order_by``
    (must be a deterministic total order, e.g. a unique key, with a
    numeric/date/timestamp leading column — it feeds the
    percentile_approx bucket boundaries).

    Returns the selected rows — ``df``'s columns plus ``n_hits``
    (BIGINT >= 1, the number of times the row is drawn). The draw
    count across all rows is exactly ``total div stride`` (+1 when
    stride divides total), i.e. ~``n_target``.
    """
    if n_target < 1:
        raise ValueError(f"n_target must be >= 1, got {n_target}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = F.col(weight_col).cast("long")
    key0 = order_by[0]
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # One-row control aggregate, PINNED on the driver (ADVICE r6,
    # medium): the downstream plan references the control values from
    # two branches (per-bucket psums/offsets AND the per-row binning),
    # and AQE instantiates a non-pinned control agg once per branch.
    # ApproximatePercentile's final merge folds partial sketches in
    # shuffle-fetch arrival order — non-deterministic across executors
    # — so two instances can yield DIFFERENT __bounds, binning rows
    # against offsets computed under other boundaries and silently
    # corrupting the prefix sum. Collecting the single tiny row once
    # and re-injecting stride/bounds as literals makes every branch see
    # the identical sketch output by construction (and lets Catalyst
    # constant-fold the stride). This is a bounded driver action — one
    # row, <= n_buckets values — not a full-table checkpoint.
    # n_buckets=1 has no interior boundaries (empty percentile list is
    # rejected by Spark), so the bucket column degenerates to const 0.
    stride_agg = (
        F.greatest(
            F.expr(f"sum(cast({weight_col} as bigint)) div {n_target}"), F.lit(1)
        )
        .cast("long")
        .alias("__stride")
    )
    if fracs:
        ctrl = df.agg(
            stride_agg,
            F.percentile_approx(
                F.col(key0), F.array(*[F.lit(f) for f in fracs]), F.lit(10000)
            ).alias("__bounds"),
        ).first()
        bounds = list(ctrl["__bounds"] or [])
    else:
        ctrl = df.agg(stride_agg).first()
        bounds = []
    stride = ctrl["__stride"]
    # Bucket = number of boundaries strictly below the key: monotone in
    # key0, so buckets are contiguous ranges consistent with the global
    # order, and rows with equal key0 always share a bucket (the
    # within-bucket window then refines by the full order_by). Plain
    # literal comparisons (codegen-friendly) rather than a HOF over an
    # array literal.
    if bounds:
        bucket_expr = sum(
            (F.lit(b) < F.col(key0)).cast("int") for b in bounds
        ).cast("int")
    else:
        bucket_expr = F.lit(0)
    bucketed = df.withColumn(
        "__stride", F.lit(stride).cast("long")
    ).withColumn("__bucket", bucket_expr)
    psums = bucketed.groupBy("__bucket").agg(F.sum(w).alias("__psum"))
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    # tiny frame: one row per bucket (<= n_buckets)
    offsets = psums.withColumn(
        "__offset", F.coalesce(F.sum("__psum").over(w_off), F.lit(0))
    ).select("__bucket", "__offset")
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(*[F.col(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = (F.coalesce(F.sum(w).over(w_in), F.lit(0)) + F.col("__offset")).cast("long")
    hits = F.expr(
        f"(__cb + cast({weight_col} as bigint)) div __stride - __cb div __stride"
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn("__cb", cb)
        .withColumn("n_hits", hits.cast("long"))
        .filter(F.col("n_hits") >= 1)
        .drop("__bucket", "__offset", "__cb", "__stride")
    )
