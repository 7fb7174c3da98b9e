"""Parity matrix: DeltaMergeTarget vs ParquetMergeTarget.

Runs the same op sequence (overwrite, upsert merge, update-only merge,
delta-col-conditioned merge, append, update_flag, delete_all, and on a
partitioned table an overwrite by a frame that covers fewer
partitions) against BOTH targets and asserts the visible table state
matches after every step — proving the parquet stand-in that the rest
of the suite exercises is semantics-identical to the real Delta path.

Needs delta-spark on the classpath; run via tests/test_delta_parity.py
which skips cleanly when it is absent. Kept as a standalone script so
the Delta session (spark.sql.extensions + catalog) is configured at
JVM startup in its own process, not fought over with the shared test
session.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F


def build_delta_session() -> SparkSession:
    builder = (
        SparkSession.builder.master("local[4]")
        .appName("delta_parity")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    try:
        from delta import configure_spark_with_delta_pip

        builder = configure_spark_with_delta_pip(builder)
    except ImportError:
        pass
    return builder.getOrCreate()


def snapshot(target) -> set[tuple]:
    df = target.read()
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def run_matrix(spark: SparkSession) -> None:
    from fsc_etl_spark.operators.merge import DeltaMergeTarget, ParquetMergeTarget

    base = tempfile.mkdtemp(prefix="delta_parity_")
    delta_t = DeltaMergeTarget(spark, f"{base}/delta_tbl")
    parq_t = ParquetMergeTarget(spark, f"{base}/parq_tbl")

    def df(rows):
        return spark.createDataFrame(rows)

    def both(opname, fn, targets=(delta_t, parq_t)):
        for t in targets:
            fn(t)
        d, p = (snapshot(t) for t in targets)
        assert d == p, f"{opname}: delta={sorted(d)[:5]} parquet={sorted(p)[:5]}"
        print(f"OK {opname}: {len(d)} rows identical")

    r = Row("k", "v", "ts")
    both("overwrite", lambda t: t.overwrite(df([r(1, "a", 10), r(2, "b", 10)])))
    both(
        "merge_upsert",
        lambda t: t.merge(df([r(2, "B", 11), r(3, "c", 11)]), on=["k"]),
    )
    both(
        "merge_update_only",
        lambda t: t.merge(
            df([r(3, "C", 12), r(4, "d", 12)]),
            on=["k"],
            when_not_matched_insert=False,
        ),
    )
    # delta_col condition: stale source row (ts 5 < current) must NOT win
    both(
        "merge_delta_col",
        lambda t: t.merge(
            df([r(1, "STALE", 5), r(2, "FRESH", 99)]), on=["k"], delta_col="ts"
        ),
    )
    both("append", lambda t: t.append(df([r(9, "z", 1)])))
    both(
        "update_flag",
        lambda t: t.update_flag("v", "flagged", F.expr("k = 9")),
    )
    for t in (delta_t, parq_t):
        t.delete_all()
    assert not delta_t.exists() or delta_t.read().count() == 0
    assert not parq_t.exists() or parq_t.read().count() == 0
    print("OK delete_all: both empty")

    # A partitioned overwrite replaces the whole table, including the
    # partitions absent from the frame.
    parts = (
        DeltaMergeTarget(spark, f"{base}/delta_ptbl", partition_cols=["day"]),
        ParquetMergeTarget(spark, f"{base}/parq_ptbl", partition_cols=["day"]),
    )
    rp = Row("k", "day", "v")
    both(
        "partitioned_overwrite",
        lambda t: t.overwrite(df([rp(1, "d1", "a"), rp(2, "d2", "b")])),
        parts,
    )
    both(
        "partitioned_overwrite_one_partition",
        lambda t: t.overwrite(df([rp(3, "d1", "c")])),
        parts,
    )
    assert snapshot(parts[1]) == {("d1", "3", "c")}


def main() -> int:
    from fsc_etl_spark.operators.merge import delta_available

    if not delta_available():
        print("SKIP: delta-spark not importable")
        return 42
    spark = build_delta_session()
    run_matrix(spark)
    print("PARITY OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
