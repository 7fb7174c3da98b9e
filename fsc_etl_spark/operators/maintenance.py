"""Table maintenance: compaction and clustering (SURVEY.md §2.10).

The reference forces one output file per write with ``coalesce(1)``
(``/root/reference/main.py:235``) — merging the write with compaction
at the cost of a single-task write. At scale those are separate jobs:
writes stay wide, and a periodic maintenance pass fixes layout:

- :func:`compact` — rewrite a parquet directory to ~``target_file_mb``
  files (the OPTIMIZE/bin-packing half of Delta's story, on plain
  parquet with the same atomic-swap commit the merge target uses);
- :func:`cluster_by` — additionally sort within partitions by chosen
  columns before writing (range-partition + in-file ordering gives
  readers min/max-stat file skipping on the clustered columns —
  single-dimension-dominant predicates);
- :func:`zorder_by` — true two-dimensional Z-ORDER (quantile-binned
  Morton interleave) so min/max file stats prune on BOTH predicate
  columns at once.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _atomic_swap(df: DataFrame, path: str) -> None:
    staged = f"{path.rstrip('/')}_staged_{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(staged)
    old = f"{path.rstrip('/')}_old_{uuid.uuid4().hex}"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)


def compact(spark: SparkSession, path: str, target_file_mb: int = 128) -> int:
    """Rewrite ``path`` into ceil(bytes / target) files; returns the
    new file count. Local-FS commit is an atomic directory swap; on a
    real lake this is Delta/Iceberg ``OPTIMIZE``'s job."""
    n_files = max(1, -(-_dir_bytes(path) // (target_file_mb << 20)))
    df = spark.read.parquet(path).repartition(n_files)
    _atomic_swap(df, path)
    return n_files


def cluster_by(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> int:
    """Compact AND range-cluster by ``cols``: rows are range-partitioned
    then sorted within each file, so parquet min/max stats on ``cols``
    become selective — scans with predicates on the clustered columns
    skip whole files (the practical effect of Z-ORDER for
    single-dimension-dominant predicates)."""
    if n_files is None:
        n_files = max(1, -(-_dir_bytes(path) // (target_file_mb << 20)))
    df = (
        spark.read.parquet(path)
        .repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
    )
    _atomic_swap(df, path)
    return n_files


def zorder_value(
    col_a: Column,
    col_b: Column,
    bounds_a: Sequence[float],
    bounds_b: Sequence[float],
    bits: int = 8,
) -> Column:
    """Z-order (Morton) value for two columns: each value maps to a
    ``2^bits``-bucket QUANTILE bin (equi-depth, so skew can't collapse
    the curve the way equi-width ``width_bucket`` bins would), and the
    two bin numbers interleave bit-by-bit. Nearby z-values are near in
    BOTH dimensions — range-partitioning on z gives every file a tight
    min/max box in each column, which is what makes two-dimensional
    predicate file-skipping work (single-column clustering prunes one
    dimension and leaves the other at full range per file).

    ``bounds_*`` are the ``2^bits - 1`` interior quantile boundaries
    (from ``percentile_approx`` — a sketch, so boundaries cost one agg
    even at 100 TB, and approximation only shifts bucket EDGES, never
    correctness). The fold over the broadcast boundary array is a JVM
    higher-order function: 2·(2^bits − 1) comparisons per row, no
    Python.
    """
    def bin_of(col: Column, bounds: Sequence[float]) -> Column:
        arr = F.lit([float(b) for b in bounds])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(col >= b, 1).otherwise(0),
        )

    a, b = bin_of(col_a, bounds_a), bin_of(col_b, bounds_b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        )
    return z


def zorder_by(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int | None = None,
) -> int:
    """Two-dimensional Z-order rewrite of a parquet directory: 256
    quantile bins per column (8 bits) come from one
    ``percentile_approx`` pass, rows are range-partitioned + sorted on
    the interleaved z-value, and the directory swaps atomically (same commit as
    :func:`compact`). After the rewrite, min/max file stats are
    selective on BOTH columns — the multi-predicate half of the
    Z-ORDER story :func:`cluster_by`'s single-dimension range
    clustering can't provide. Without ``n_files`` the output is sized
    at 128 MB per file, as :func:`compact` sizes it.
    """
    if n_files is None:
        n_files = max(1, -(-_dir_bytes(path) // (128 << 20)))
    df = spark.read.parquet(path)
    fracs = [i / 256 for i in range(1, 256)]
    row = df.agg(
        F.percentile_approx(F.col(col_a).cast("double"), F.lit(fracs), 10_000).alias("ba"),
        F.percentile_approx(F.col(col_b).cast("double"), F.lit(fracs), 10_000).alias("bb"),
    ).first()
    if row is None or row["ba"] is None or row["bb"] is None:
        # Empty table or an all-NULL z-column: no boundaries exist, so
        # z-ordering is meaningless — fall back to a plain compact
        # instead of iterating over a None bounds array.
        out = df.repartition(n_files)
        _atomic_swap(out, path)
        return n_files
    z = zorder_value(
        F.col(col_a).cast("double"), F.col(col_b).cast("double"), row["ba"], row["bb"]
    )
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    _atomic_swap(out, path)
    return n_files
