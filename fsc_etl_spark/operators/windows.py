"""Window / sort / top-k / time-bucket analytics (SURVEY.md §2.12).

The reference has NO window functions, sorts, or limits (§2.5, §2.6) —
this module fills the general-analytics gap with the standard Spark
shapes, each designed to keep one shuffle:

- top-k per group: ``row_number`` over (group, order) then filter —
  never a global sort;
- running aggregates: frame-bounded window aggs;
- sessionization: lag-gap-cumsum, the classic one-shuffle session
  assignment;
- time buckets: ``F.window`` tumbling buckets (batch flavor of
  the streaming windows in streaming/events.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group, ranked 1..k in column ``rn``. ``order_cols``
    must be a deterministic total order within each group (include a
    tie-break key)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def global_top_k(df: DataFrame, order_cols: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy + limit. Spark executes this as a
    per-partition TakeOrdered + driver merge of k rows — no full sort
    materialization, safe at any scale for small k."""
    return df.orderBy(*order_cols).limit(k)


def with_running(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    agg_col: str,
    out_col: str,
) -> DataFrame:
    """Running sum over a per-group ordered frame."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.sum(agg_col).over(frame))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Assign ``session_id``s: a new session starts when the gap to the
    previous event of the same user exceeds ``gap_seconds``.

    lag → gap flag → cumulative sum; one shuffle on ``user_col``.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col))
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap = F.col(ts_col).cast("long") - prev_ts.cast("long")
    new_session = F.when(prev_ts.isNull() | (gap > gap_seconds), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn("__new", new_session).withColumn(
        "session_id", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def time_bucket_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Tumbling time-window aggregation in batch — ``F.window``
    buckets; exposes ``window_start``/``window_end``."""
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )
