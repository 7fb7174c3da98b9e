"""Set-expansion kernels shared by the graph, basket and LSH operators.

Candidate pairs come from one keyed aggregation into a sorted set per
block (basket, part, LSH bucket) followed by an in-task expansion of
that set, instead of a self-join of the block. The expansion emits
each block's C(k,2) pairs (or C(k,3) triples) exactly once, in
ascending element order, with duplicates already removed when the set
came from ``collect_set``. Per-block work is bounded by the block-size
cap each caller applies, so the caps and any ``persist`` stay with the
callers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's configured shuffle-partition count.

    Callers round-robin the aggregated set rows to this many partitions
    before the expansion. AQE sizes partitions by bytes, so it coalesces
    the small set exchange to one or two partitions, and the expansion
    behind it, which AQE cannot see, then runs nearly serial. A keyed
    repartition on the block key does not help: the planner prunes it
    as redundant with the aggregation's own hash partitioning. The
    round-robin exchange survives, and it moves only the bounded set
    rows.
    """
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def expand_pairs(arr: str, a: str, b: str) -> Column:
    """Explode the sorted array column ``arr`` into one struct per
    pair ``(arr[i], arr[j])``, ``i < j``, with fields ``a`` and ``b``."""
    return F.explode(
        F.expr(
            f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr}) - i - 1), y -> "
            f"struct(x AS {a}, y AS {b}))))"
        )
    )


def expand_triples(arr: str, a: str, b: str, c: str) -> Column:
    """Explode the sorted array column ``arr`` into one struct per
    triple ``(arr[i], arr[j], arr[k])``, ``i < j < k``, with fields
    ``a``, ``b`` and ``c``."""
    return F.explode(
        F.expr(
            f"flatten(transform({arr}, (x, i) -> "
            f"flatten(transform(slice({arr}, i + 2, size({arr}) - i - 1), (y, j) -> "
            f"transform(slice({arr}, i + j + 3, size({arr}) - i - j - 2), z -> "
            f"struct(x AS {a}, y AS {b}, z AS {c}))))))"
        )
    )


def sym_edges(cp: DataFrame, a: str, b: str, w: str | None = None) -> DataFrame:
    """Both directions of each pair in ``cp`` as ``(src, dst[, w])``,
    from one explode over ``cp``.

    A union of two selects would schedule twice the tasks over the
    (usually persisted) pair list, racing each other against the
    still-unbuilt cache partitions. When ``a != b`` on every row the
    two directions cannot collide, so distinct pairs give distinct
    edges.
    """
    cols = lambda x, y: [F.col(x).alias("src"), F.col(y).alias("dst")] + (
        [F.col(w).alias("w")] if w else []
    )
    return cp.select(
        F.explode(F.array(F.struct(*cols(a, b)), F.struct(*cols(b, a)))).alias("e")
    ).select("e.*")
