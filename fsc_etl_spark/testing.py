"""Oracle-comparison harness mirroring the driver's correctness gate.

The driver runs each ``__spark_entry__.queries()[name]`` against
``oracle_sql()[name]`` via DuckDB and compares row-count + schema +
order-insensitive value hash (BASELINE.md §b). This module implements
the same comparison locally so tests catch mismatches (value drift,
column-name drift, type drift) before a round is judged.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal
from typing import Any

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the synthetic tables registered as views, the
    same way the driver pre-registers them."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_value(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, np.generic):
        # pandas hands back numpy scalars; fold them onto the Python
        # branches so e.g. np.True_ -> "true" and np.float32 -> repr of
        # the double it widens to (matching the driver's stringify).
        v = v.item()
    elif isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr is the shortest round-trip form — identical doubles give
        # identical strings; near-equal doubles intentionally differ.
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            # DuckDB DATE materializes as a midnight Timestamp through
            # pandas while Spark hands back datetime.date; the driver's
            # date oracles are green, so its hash treats the two alike.
            # Documented blind spot (ADVICE r5): a genuine TIMESTAMP at
            # exactly 00:00:00 is folded too, so a DATE-vs-midnight-
            # TIMESTAMP engine divergence cannot be detected here — the
            # schema-level type check in tests/test_plan_quality.py and
            # the explicit casts in plans/oracles.py are the guard.
            return v.date().isoformat()
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def _norm_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)


class OracleMismatch(AssertionError):
    pass


def compare_with_oracle(
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    name: str = "query",
    max_diff_shown: int = 5,
) -> None:
    """Raise OracleMismatch unless the Spark result and the DuckDB
    result agree on row count, column-name set, and (order-insensitive)
    values."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    # Fetch the oracle result through ARROW. This is the only fetch
    # path consistent with every observed driver outcome (VERDICT
    # r4/r5): uncast integer SUMs (DuckDB HUGEINT) surface as
    # Decimal('1234') -> _norm_value "1234.0" vs Spark's "1234" and
    # FAIL, exactly like the driver's r4 reds — while nullable BIGINT
    # columns (window_lag_delta's lag delta, asof/scd2/pit NULLs)
    # surface as int/None and PASS, exactly like the driver's r1-r5
    # greens. fetchall() would hand HUGEINT back as Python int and
    # mask that failure class; .df() would widen nullable BIGINT to
    # float64 ("-1.0" vs "-1") and false-positive the four
    # driver-green NULL-bearing queries (the r5 red-suite bug).
    # Arrow also keeps NULL (None) distinct from a genuine NaN.
    tbl = con.execute(sql).arrow()
    d_cols = list(tbl.column_names)
    d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]

    if sorted(s_cols) != sorted(d_cols):
        raise OracleMismatch(f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        raise OracleMismatch(f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}")

    ns, nd = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
    if ns != nd:
        only_s = [r for r in ns if r not in set(nd)][:max_diff_shown]
        only_d = [r for r in nd if r not in set(ns)][:max_diff_shown]
        raise OracleMismatch(
            f"{name}: value mismatch ({len(only_s)}+ spark-only / {len(only_d)}+ duckdb-only shown)\n"
            f"  spark-only:  {only_s}\n  duckdb-only: {only_d}\n  cols: {sorted(s_cols)}"
        )


def check_query(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Run one registered query against its oracle at ``sf_dir``;
    returns the query's frame."""
    import __spark_entry__ as entrymod

    qfn = entrymod.queries()[name]
    # Trained-quantizer oracles are fixture-dependent: the static
    # oracle_sql() strings are generated at the driver's gate scale
    # (DRIVER_SF_DIR); when comparing at any SF, regenerate the SQL
    # for THIS fixture (same replicated-training recipe). Regenerate
    # UNCONDITIONALLY for generator-backed names — the generator needs
    # only sf_dir, so the check must not silently weaken to rows-only
    # on machines where the static entry was never populated
    # (ADVICE r7, medium).
    from fsc_etl_spark.plans.oracles_training import SF_ORACLE_GENERATORS

    if name in SF_ORACLE_GENERATORS:
        sql = SF_ORACLE_GENERATORS[name](sf_dir)
    else:
        sql = entrymod.oracle_sql().get(name)
    df = qfn(spark, sf_dir)
    if sql is None:
        assert df.count() >= 0  # rows-only check, like the driver
        return df
    con = duckdb_connection(sf_dir)
    try:
        compare_with_oracle(df, con, sql, name=name)
    finally:
        con.close()
    return df


def persisted_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD the session keeps persisted: DataFrame caches
    and local checkpoints alike."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
