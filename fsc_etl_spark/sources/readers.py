"""Scans (SURVEY.md §2.1 S5-S7).

The reference's scans are header-only CSV reads immediately projected
(``/root/reference/main.py:75-79``), a Delta read-back
(``main.py:260-263``), and JDBC reads with query pushdown
(``main.py:252-271``). Here every scan takes an explicit schema and the
column projection happens at scan time so Catalyst prunes columns and —
for parquet — pushes predicates into the file reader.

At 100 TB the relevant properties are:
- parquet scans get predicate pushdown + column pruning for free when
  the plan stays declarative (verify via ``df.explain``: PushedFilters,
  ReadSchema);
- CSV scans cannot push predicates, so the explicit ``columns=``
  projection right at the scan is the only pruning available — keep it;
- JDBC scans ship the ``query=`` text to the external engine verbatim
  (full pushdown), mirroring the reference's Synapse max-key probe.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fsc_etl_spark import schemas
from fsc_etl_spark.operators.pairs import shuffle_parallelism


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Header CSV scan with an explicit (usually all-string) schema.

    Mirrors S5 (``main.py:75-79``) but never infers: the schema is
    declared, and the projection is applied at the scan.
    """
    df = spark.read.csv(path, header=True, schema=schema)
    if columns:
        df = df.select(*columns)
    return df


def read_parquet_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Sequence[str] | None = None,
    parallel: bool = False,
) -> DataFrame:
    """Scan one synthetic table (TESTDATA.md) by name from an sf dir.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (scanned as a
    long under nanosAsLong) and TIMESTAMP(MICROS) (a native timestamp)
    across fixture generations, so the footer is sniffed
    (``events_ts_is_long``) instead of assuming one encoding. The nanos
    form is converted with exact integer division — double math would
    lose precision past 2^53.

    ``parallel=True`` applies :func:`parallel_scan` (r14): opt in at
    call sites whose heavy per-row work (token/shingle explodes, md5s,
    per-row array math) runs BEFORE the first exchange — on the
    single-row-group gate fixtures that work is otherwise serial. A
    no-op on properly split inputs, and deliberately NOT the default:
    cheap partial-agg scans lose more to the added exchange than they
    gain.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        if events_ts_is_long(spark, path):
            df = spark.read.schema(schemas.EVENTS).parquet(path)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = spark.read.schema(schemas.EVENTS_TS).parquet(path)
    else:
        df = spark.read.schema(schemas.TABLES[name]).parquet(path)
    if columns:
        df = df.select(*columns)
    if parallel:
        df = parallel_scan(df, key=path)
    return df


def _local_listing(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """(name, size, mtime_ns) of every file under ``path``, sorted; None
    when ``path`` is not on the local filesystem or does not exist.

    The two path-keyed memos below key on this listing as well as the
    path, so a table rewritten at the same path (new part files, or the
    same names with new sizes or times) misses the memo.
    """
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path):
        if not path.startswith("file:"):
            return None
        path = re.sub(r"^file:(//)?", "", path)
    if not os.path.exists(path):
        return None
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(root, n) for root, _, names in os.walk(path) for n in names]
    out = []
    for f in sorted(files):
        st = os.stat(f)
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _memo_key(path: str, *extra) -> tuple | None:
    listing = _local_listing(path)
    return None if listing is None else (path, *extra, listing)


#: memo of parallel_scan's under-split probe, keyed by (path, shuffle
#: partitions, file listing): the scan's split count follows the file
#: layout (files x row groups) and the session's parallelism target.
_SCAN_UNDERSPLIT_CACHE: dict[tuple, bool] = {}


def parallel_scan(df, key: str | None = None):
    """Round-robin repartition of an UNDER-SPLIT scan to the session's
    shuffle parallelism (r14, guide §2.5 "input skew: one huge
    unsplittable file … repartition immediately after the read").

    The gate fixtures are single-file / single-row-group parquet, so
    every scan plans at most one non-empty split and ALL pre-exchange
    work — shingle/token explodes, salted md5s, per-row array
    expressions — runs on one core. This helper fires ONLY when the
    planned scan parallelism is below half the session's shuffle
    partitions, so on real multi-file/multi-row-group data it is a
    no-op and no extra exchange is ever added at scale. Apply it ONLY
    where heavy per-row compute precedes the first exchange (measured:
    minhash signatures 1.94→0.64 s, trigram explode 2.25→0.61 s at
    sf0.1, while cheap partial-agg scans LOSE ~0.2-0.3 s to the added
    exchange — so it is deliberately not reader-global).

    ``key``: optional table path to memoise the probe under — the
    probe costs one driver-side plan of the scan. Only a local path is
    memoised, and a rewrite of its files misses the memo.
    """
    n = shuffle_parallelism(df)
    memo_key = _memo_key(key, n) if key is not None else None
    under = _SCAN_UNDERSPLIT_CACHE.get(memo_key) if memo_key else None
    if under is None:
        under = df.rdd.getNumPartitions() * 2 < n
        if memo_key:
            _SCAN_UNDERSPLIT_CACHE[memo_key] = under
    return df.repartition(n) if under else df


#: memo of events_ts_is_long, keyed by (path, file listing): dozens of
#: event-reading queries would otherwise each pay the footer-inference
#: round trip at plan-build time (~0.1 s per events query in the
#: bench), and a fixture rewritten with another ts encoding misses it.
_EVENTS_TS_IS_LONG_CACHE: dict[tuple, bool] = {}


def events_ts_is_long(spark: SparkSession, path: str) -> bool:
    """True when the events fixture at ``path`` encodes ``ts`` as
    TIMESTAMP(NANOS), which Spark scans as a raw long (nanosAsLong).

    Footer-only schema inference — no data is read, so this is a cheap
    per-plan probe even on object storage (and memoised per local path
    and file listing). On a
    session without ``spark.sql.legacy.parquet.nanosAsLong`` (the
    driver's vanilla session), inference over a NANOS file throws
    PARQUET_TYPE_ILLEGAL — that exception itself identifies the nanos
    encoding, which the explicit LongType scan schema still reads fine.
    """
    memo_key = _memo_key(path)
    cached = _EVENTS_TS_IS_LONG_CACHE.get(memo_key) if memo_key else None
    if cached is not None:
        return cached
    result = _events_ts_is_long_uncached(spark, path)
    if memo_key:
        _EVENTS_TS_IS_LONG_CACHE[memo_key] = result
    return result


def _events_ts_is_long_uncached(spark: SparkSession, path: str) -> bool:
    try:
        inferred = spark.read.parquet(path).schema["ts"].dataType
    except Exception as e:  # noqa: BLE001 — classified below, then re-raised
        # Only the parquet-type error identifies the nanos encoding;
        # anything else (missing path, permissions, corrupt footer)
        # must propagate rather than masquerade as "ts is long" and
        # resurface later as a confusing schema-mismatch read error.
        msg = str(e)
        if "PARQUET_TYPE_ILLEGAL" in msg or "nanosAsLong" in msg or "NANOS" in msg:
            return True
        raise
    return isinstance(inferred, T.LongType)


def load_tables(spark: SparkSession, sf_dir: str, names: Sequence[str] | None = None) -> dict[str, DataFrame]:
    """Load several synthetic tables as a dict of DataFrames."""
    return {n: read_parquet_table(spark, sf_dir, n) for n in (names or schemas.TABLES)}


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Schema-first JSON-lines scan — like CSV, JSON text gets no
    predicate pushdown, so declare the schema (no sampling pass) and
    project immediately."""
    df = spark.read.schema(schema).json(path)
    if columns:
        df = df.select(*columns)
    return df


def read_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """ORC scan — the JVM-native columnar alternative to parquet, with
    the same predicate-pushdown / column-pruning / vectorized-reader
    behavior (Catalyst's OrcScan). Schema-first when given, like every
    other reader here."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.orc(path)
    if columns:
        df = df.select(*columns)
    return df


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """``binaryFile`` source: one row per file with (path,
    modificationTime, length, content) — the standard ingest shape for
    media blobs (images/audio/video) before they become binary columns
    in a media table (operators/multimodal.py). The source never
    splits a file, so partitioning is per-file; at scale, pack small
    media into larger container files or ingest once into parquet."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_jdbc_query(spark: SparkSession, url: str, query: str, properties: dict[str, str] | None = None) -> DataFrame:
    """JDBC scan with full query pushdown (S7, ``main.py:252-271``).

    The query text executes inside the external engine; only the result
    set crosses the wire. Env-gated: requires a JDBC driver jar on the
    classpath, so callers should guard with try/except AnalysisException.
    """
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """PARALLEL JDBC scan — the S7 scale path: ``num_partitions``
    concurrent connections, each reading one stride of
    ``partition_column``'s [lower, upper] range (Spark generates the
    per-partition WHERE clauses). A single-connection JDBC read of a
    big warehouse table serializes the whole transfer through one
    executor; this is the difference between minutes and hours on a
    large extract. The bounds only steer the split points — rows
    outside them still land in the first/last partition, so the result
    equals the unpartitioned read."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
