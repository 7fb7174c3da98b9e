"""Mirror of the driver's correctness gate (BASELINE.md §b).

Every queries() entry runs at sf0.001 against its DuckDB oracle with
the same row-count + schema + order-insensitive value comparison the
driver applies at sf0.01. A failure here is a failure in
CORRECTNESS_r{N}.json — fix before committing new queries.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fsc_etl_spark.operators.cache import checkpoint_rdd_ids
from fsc_etl_spark.testing import check_query, persisted_rdd_ids

QUERY_NAMES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_every_query_has_callable():
    qs = entrymod.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_smoke, name):
    """The query matches its oracle, and once it has run and the
    DataFrame cache is cleared, the only RDDs it leaves persisted are
    the local checkpoints its returned frame reads: every other cache
    it made is released."""
    before = persisted_rdd_ids(spark)
    df = check_query(spark, sf_smoke, name)
    spark.catalog.clearCache()
    left = persisted_rdd_ids(spark) - before
    assert left <= checkpoint_rdd_ids(df), (
        f"{name} left {len(left - checkpoint_rdd_ids(df))} RDD(s) persisted "
        "that its result does not read"
    )


# Every DuckDB result-column type with a driver-green precedent.
# Three rounds were lost to final types the driver's canonicalization
# had never seen (r4 HUGEINT → Decimal via Arrow, r6 Arrow Decimal
# fetch, r10 DECIMAL(38,0) — bit-identical values, red hash row), so
# the oracle surface is a closed allowlist: extending it means
# deliberately shipping a never-driver-checked type class. The two
# small DECIMALs are r3-green precedents (cluster_canonical_doc,
# histogram_price_buckets). Spark-side twin gate:
# tests/test_plan_quality.py::test_final_schemas_use_only_proven_types.
PROVEN_ORACLE_TYPES = {
    "BIGINT",
    "INTEGER",
    "DOUBLE",
    "VARCHAR",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",
    "DECIMAL(5,2)",
    "DECIMAL(16,1)",
}


def test_oracle_columns_use_only_proven_types(sf_smoke):
    """Static gate for the r4/r6/r10 failure class (VERDICT r10 #2):
    DESCRIBE every oracle (no execution) and reject any result column
    whose type lacks a driver-green precedent — HUGEINT from uncast
    integer aggregates, DECIMAL(38,0) from exact-arithmetic finals,
    or anything else new. Exact accumulation stays internal; the final
    SELECT casts to the proven surface. EXTENDING the surface
    (VERDICT r11 #6): a new type must first debut ALONE as a minimal
    probe query in the driver window and come back green before a
    real operator rides it (rule mirrored at
    tests/test_plan_quality.py::PROVEN_FINAL_TYPES)."""
    from fsc_etl_spark.testing import duckdb_connection

    con = duckdb_connection(sf_smoke)
    try:
        bad: list[str] = []
        for name, sql in sorted(entrymod.oracle_sql().items()):
            desc = con.execute(f"DESCRIBE {sql}").df()
            for col, typ in zip(desc["column_name"], desc["column_type"]):
                if str(typ) not in PROVEN_ORACLE_TYPES:
                    bad.append(f"{name}.{col}: {typ}")
        assert not bad, (
            "oracle result columns outside the proven driver type surface "
            f"(CAST the final select): {bad}"
        )
    finally:
        con.close()


def test_registry_states_each_query_once():
    """The module tables are disjoint, every registered query has an
    oracle, every OFF_BENCH key is a registered query, and the driver
    window holds 50 distinct registered names. Starts no Spark session."""
    import bench
    from fsc_etl_spark.plans.oracles_training import SF_ORACLE_GENERATORS

    names = set(entrymod.queries())
    assert sum(len(module.QUERIES) for module, _ in entrymod.MODULES) == len(names), (
        "a name is registered by more than one module"
    )
    tables = [set(table) for _, table in entrymod.MODULES]
    assert sum(map(len, tables)) == len(set().union(*tables)), (
        "a name has an oracle in more than one table"
    )
    assert names == set(SF_ORACLE_GENERATORS).union(*tables)
    assert set(bench.OFF_BENCH) <= names
    window = entrymod.DRIVER_WINDOW
    assert len(window) == len(set(window)) == 50
    assert set(window) <= names


def test_driver_sample_prefix_covers_priority_groups():
    """The driver oracle-checks the first 50 queries() entries. Every
    query with no row in the committed CORRECTNESS_r*.json files must
    sit in that window, and so must the queries named below."""
    import json
    from pathlib import Path

    names = list(entrymod.queries())
    prefix = set(names[:50])
    root = Path(__file__).resolve().parent.parent
    sampled: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        sampled |= set(json.loads(p.read_text()))
    never = [n for n in names if n not in sampled]
    missing = [n for n in never if n not in prefix]
    assert not missing, f"never-sampled queries fell out of the driver window: {missing}"
    # Queries whose cache lifecycle changed and that the driver has to
    # re-verify.
    changed_this_round = {
        "graph_common_neighbors",
    }
    for must_have in changed_this_round:
        assert must_have in prefix, f"{must_have} fell out of the driver sample"


def test_query_index_doc_is_fresh():
    """docs/QUERIES.md must list exactly the current queries() surface
    in order — regenerate with scripts/gen_query_index.py."""
    import re
    from pathlib import Path

    doc = Path(__file__).resolve().parent.parent / "docs" / "QUERIES.md"
    listed = re.findall(r"^\| \d+ \| `([^`]+)`", doc.read_text(), re.M)
    assert listed == list(entrymod.queries()), (
        "docs/QUERIES.md is stale — run python scripts/gen_query_index.py"
    )
