"""Sinks (SURVEY.md §2.1 S8-S10).

The reference writes the curated fact table with
``coalesce(1).write.partitionBy("Year","Month")`` (``main.py:235``) —
forcing every write through ONE task. That is the single biggest
scale anti-pattern in the reference (BASELINE.md §a): at 100 TB a
one-task write never finishes. Here:

- no ``coalesce(1)`` ever: AQE coalesces shuffle partitions to sane
  file sizes (``spark.sql.adaptive.coalescePartitions.enabled``);
- partitioned writes keep the reference's Hive-style ``Year/Month``
  layout so readers get partition pruning;
- an optional ``target_file_rows`` repartition lets callers bound file
  counts deterministically when AQE isn't in play (e.g. plain appends).

Delta is not on the classpath in this environment (TESTDATA.md env);
``operators/merge.py`` supplies merge/upsert semantics over plain
parquet directories with an atomic swap.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "append",
    fmt: str = "parquet",
    partitions_per_write: int | None = None,
) -> None:
    """Partitioned columnar sink (S8/S10 without the coalesce(1)).

    When ``partition_by`` is set we repartition by the partition columns
    first so each output directory is written by the tasks that own its
    keys — avoiding the many-small-files explosion of every task
    touching every partition value.
    """
    out = df
    if partition_by:
        if partitions_per_write:
            out = out.repartition(partitions_per_write, *partition_by)
        else:
            out = out.repartition(*partition_by)
    writer = out.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed (and optionally sort-ordered) managed table.

    Bucketing is THE shuffle-elimination tool for repeated big joins
    and aggregations on a stable key: both sides hashed into the same
    number of buckets at WRITE time means join/groupBy on the bucket
    key needs no Exchange at READ time (verify: no Exchange above the
    scans in the joined plan; tests/test_layout.py asserts exactly
    that). At 100 TB this converts every daily fact⋈fact join from a
    full-data shuffle into a local zip of pre-sorted buckets.

    Spark's bucketing requires ``saveAsTable`` (metastore-backed);
    table location follows ``spark.sql.warehouse.dir``.
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


# Spark-SQL simpleString -> ANSI DDL type, for engine-side staging DDL.
_JDBC_DDL_TYPES = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "REAL",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "string": "VARCHAR(4000)",
    "boolean": "BOOLEAN",
}


def ensure_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    schema,
    properties: dict[str, str] | None = None,
) -> bool:
    """Create ``table`` in the external DB from a Spark schema if it
    doesn't exist, with UNQUOTED identifiers so the warehouse's own
    case-folding applies (Spark's JDBC writer quotes identifiers on
    CREATE, which makes them case-sensitive and breaks warehouse-side
    SQL like the staged-upsert statements). Returns True if created.
    """
    jvm = spark._jvm
    if properties and "driver" in properties:
        jvm.java.lang.Class.forName(properties["driver"])
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        meta = conn.getMetaData()
        rs = meta.getTables(None, None, table.upper(), None)
        exists = rs.next()
        rs.close()
        if exists:
            return False
        cols = ", ".join(
            f"{f.name} {_JDBC_DDL_TYPES[f.dataType.simpleString()]}" for f in schema.fields
        )
        stmt = conn.createStatement()
        stmt.execute(f"CREATE TABLE {table} ({cols})")
        stmt.close()
        return True
    finally:
        conn.close()


def write_jdbc_staged_upsert(
    df: DataFrame,
    url: str,
    staging_table: str,
    target_table: str,
    lookup_cols: Sequence[str],
    delta_col: str,
    properties: dict[str, str] | None = None,
) -> list[str]:
    """S9: the reference's DW sink — overwrite a staging table, then
    run generated DELETE/DELETE/INSERT statements inside the warehouse
    (``/root/reference/utils/load_functions.py:2-60``; statement
    generation in ``operators/merge.build_staged_upsert_sql``).

    The merge SQL executes in the external engine, not Spark — only
    the staged rows cross the wire (executors → DB in parallel JDBC
    batches). Returns the post-action statements it ran. Env-gated:
    requires a JDBC driver on the classpath; callers should catch the
    resulting ``Py4JJavaError``/``AnalysisException`` when no driver
    is present (tests exercise the statement generation directly).
    """
    from fsc_etl_spark.operators.merge import build_staged_upsert_sql

    # Pre-create staging with warehouse-cased DDL, then truncate-
    # overwrite: Spark's own JDBC CREATE quotes identifiers, which
    # would make the unquoted merge statements below unresolvable.
    ensure_jdbc_table(df.sparkSession, url, staging_table, df.schema, properties)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging_table)
        .option("truncate", "true")
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode("overwrite").save()

    statements = build_staged_upsert_sql(staging_table, target_table, lookup_cols, delta_col)
    jvm = df.sparkSession._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.execute(sql)
        stmt.close()
    finally:
        conn.close()
    return statements
