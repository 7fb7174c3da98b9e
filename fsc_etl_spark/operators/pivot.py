"""Long→wide pivot (SURVEY.md §2.2 P7).

The reference pivots the long-format hospitalizations table by hand:
four equality filters + four column renames + four later re-joins
(``/root/reference/main.py:106-114`` + ``main.py:217-220``) — four
shuffles and four scans of the same input.

Spark-first replacement: ONE ``groupBy().pivot(values=...).agg()``.
Passing the value domain explicitly (we declare it in schemas.py)
matters at scale: without it Spark runs an extra distinct-values job
over the whole input just to learn the pivot columns.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pivot_indicator(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    value_map: Mapping[str, str],
    agg: Column | None = None,
) -> DataFrame:
    """Pivot ``pivot_col`` into one column per key of ``value_map``
    (pivot value → output column name), aggregating column ``value``.

    Default aggregate is ``first(value)`` — the reference's long table
    has at most one row per (key, indicator), so ``first`` reproduces
    the filter-and-join semantics exactly.
    """
    agg_expr = agg if agg is not None else F.first(F.col("value"))
    wide = df.groupBy(*group_cols).pivot(pivot_col, list(value_map.keys())).agg(agg_expr)
    renames = {src: dst for src, dst in value_map.items()}
    return wide.withColumnsRenamed(renames)
