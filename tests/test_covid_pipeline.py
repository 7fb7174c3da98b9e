"""End-to-end COVID pipeline tests (SURVEY.md §5 strategy item 3).

Full-mode output is compared cell-for-cell against a DuckDB golden
that independently re-implements the Metrics_Fact contract
(FIXTURES.md §2) from the same fixture CSVs. One incremental day on
yesterday's refresh must reproduce the same golden over today's
snapshot. Incremental mode is also checked behaviorally: corrections
update in place, the new day appends with continuing surrogate keys,
and a no-change rerun is a no-op (idempotency property, SURVEY §5
item 4).
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from fsc_etl_spark.plans import covid
from fsc_etl_spark.testing import compare_with_oracle

from covid_fixtures import RUN_DATE, generate

RUN_TS = dt.datetime(2021, 3, 2, 6, 0, 0)


@pytest.fixture(scope="module")
def fixture_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("covid_raw")
    return generate(str(root))


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("covid_lake")
    return covid.CovidPipeline(
        spark, curated_root=str(root / "curated"), enterprise_root=str(root / "enterprise")
    )


def _csv_views(con: duckdb.DuckDBPyConnection, raw_dir: str) -> None:
    for name in ("owid_covid_data", "vaccinations", "hospitalizations", "excess_mortality", "full_data"):
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_csv('{raw_dir}/{name}.csv', header=true, all_varchar=true)"
        )


GOLDEN_SQL = f"""
WITH owid AS (
  SELECT location AS Location, iso_code AS CodeISO, CAST(date AS DATE) AS Date,
         ROUND(TRY_CAST(stringency_index AS DOUBLE), 1) AS Stringency_index,
         TRY_CAST(population AS INTEGER) AS Population,
         TRY_CAST(aged_65_older AS INTEGER) AS Aged_65_older_perc,
         TRY_CAST(aged_70_older AS INTEGER) AS Aged_70_older_perc,
         TRY_CAST(new_tests AS INTEGER) AS New_tests,
         TRY_CAST(total_tests AS INTEGER) AS Total_tests
  FROM owid_covid_data
), mapping AS (
  SELECT DISTINCT location, iso_code FROM owid_covid_data
), vac AS (
  SELECT iso_code, CAST(date AS DATE) AS Date,
         TRY_CAST(total_vaccinations AS INTEGER) AS Total_vaccinations,
         TRY_CAST(daily_vaccinations AS INTEGER) AS Daily_vaccinations,
         TRY_CAST(total_boosters AS INTEGER) AS Total_boosters_vaccinations
  FROM vaccinations
), hosp AS (
  SELECT iso_code, CAST(date AS DATE) AS Date,
         MAX(ROUND(TRY_CAST(value AS DOUBLE),2)) FILTER (WHERE indicator = 'Daily hospital occupancy')        AS Daily_hospital_occupancy,
         MAX(ROUND(TRY_CAST(value AS DOUBLE),2)) FILTER (WHERE indicator = 'Daily ICU occupancy')             AS Daily_icu_occupancy,
         MAX(ROUND(TRY_CAST(value AS DOUBLE),2)) FILTER (WHERE indicator = 'Weekly new hospital admissions')  AS Weekly_new_hospital_admissions,
         MAX(ROUND(TRY_CAST(value AS DOUBLE),2)) FILTER (WHERE indicator = 'Weekly new ICU admissions')       AS Weekly_new_icu_admissions
  FROM hospitalizations GROUP BY 1, 2
), exc AS (
  SELECT m.iso_code, CAST(e.date AS DATE) AS Date,
         ROUND(TRY_CAST(e.excess_proj_all_ages AS DOUBLE),2) AS Projection_excess_death
  FROM excess_mortality e JOIN mapping m ON e.location = m.location
), fd AS (
  SELECT m.iso_code, CAST(f.date AS DATE) AS Date,
         TRY_CAST(f.new_cases AS INTEGER) AS New_cases,
         TRY_CAST(f.new_deaths AS INTEGER) AS New_deaths,
         TRY_CAST(f.total_cases AS INTEGER) AS Total_cases,
         TRY_CAST(f.total_deaths AS INTEGER) AS Total_deaths,
         TRY_CAST(f.weekly_cases AS INTEGER) AS Weekly_cases,
         TRY_CAST(f.weekly_deaths AS INTEGER) AS Weekly_deaths
  FROM full_data f JOIN mapping m ON f.location = m.location
), wide AS (
  SELECT o.Location, o.CodeISO, o.Date,
         COALESCE(fd.New_cases, 0) AS New_cases,
         COALESCE(fd.New_deaths, 0) AS New_deaths,
         COALESCE(fd.Total_cases, 0) AS Total_cases,
         COALESCE(fd.Total_deaths, 0) AS Total_deaths,
         COALESCE(fd.Weekly_cases, 0) AS Weekly_cases,
         COALESCE(fd.Weekly_deaths, 0) AS Weekly_deaths,
         COALESCE(hosp.Daily_hospital_occupancy, 0) AS Daily_hospital_occupancy,
         COALESCE(hosp.Daily_icu_occupancy, 0) AS Daily_icu_occupancy,
         COALESCE(hosp.Weekly_new_hospital_admissions, 0) AS Weekly_new_hospital_admissions,
         COALESCE(hosp.Weekly_new_icu_admissions, 0) AS Weekly_new_icu_admissions,
         COALESCE(vac.Total_vaccinations, 0) AS Total_vaccinations,
         COALESCE(vac.Daily_vaccinations, 0) AS Daily_vaccinations,
         COALESCE(vac.Total_boosters_vaccinations, 0) AS Total_boosters_vaccinations,
         COALESCE(o.New_tests, 0) AS New_tests,
         COALESCE(o.Total_tests, 0) AS Total_tests,
         COALESCE(exc.Projection_excess_death, 0) AS Projection_excess_death,
         COALESCE(o.Stringency_index, 0) AS Stringency_index,
         COALESCE(o.Population, 0) AS Population,
         COALESCE(o.Aged_65_older_perc, 0) AS Aged_65_older_perc,
         COALESCE(o.Aged_70_older_perc, 0) AS Aged_70_older_perc
  FROM owid o
  LEFT JOIN fd   ON o.CodeISO = fd.iso_code  AND o.Date = fd.Date
  LEFT JOIN exc  ON o.CodeISO = exc.iso_code AND o.Date = exc.Date
  LEFT JOIN vac  ON o.CodeISO = vac.iso_code AND o.Date = vac.Date
  LEFT JOIN hosp ON o.CodeISO = hosp.iso_code AND o.Date = hosp.Date
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY CodeISO, Date) AS BIGINT) AS _SK_METRICS_FACT,
       TIMESTAMP '{RUN_TS.isoformat(sep=" ")}' AS _TF_LAST_UPDATE,
       wide.*,
       CAST(year(Date) AS INTEGER) AS Year,
       strftime(Date, '%m') AS Month,
       'N' AS Is_updated
FROM wide
"""


def test_full_mode_matches_golden(spark, pipeline, fixture_dirs):
    pipeline.run_full(fixture_dirs["today"], run_ts=RUN_TS)
    fact = pipeline.curated.read()
    con = duckdb.connect()
    _csv_views(con, fixture_dirs["today"])
    try:
        compare_with_oracle(fact, con, GOLDEN_SQL, name="metrics_fact_full")
    finally:
        con.close()


def test_incremental_day_matches_golden_in_one_commit(spark, pipeline, fixture_dirs, monkeypatch):
    """A full refresh of yesterday's snapshot plus one incremental day
    equals a full refresh of today's snapshot on every column but the
    surrogate key and the two audit columns, and the day is a single
    commit of the curated table."""
    pipeline.run_full(fixture_dirs["yesterday"], run_ts=RUN_TS)
    commits = []
    for method in ("merge", "overwrite", "append", "update_flag", "delete_all"):
        inner = getattr(pipeline.curated, method)

        def counted(*args, _inner=inner, _method=method, **kwargs):
            commits.append(_method)
            return _inner(*args, **kwargs)

        monkeypatch.setattr(pipeline.curated, method, counted)
    pipeline.run_incremental(
        fixture_dirs["today"], fixture_dirs["yesterday"], run_date=RUN_DATE, run_ts=RUN_TS
    )
    monkeypatch.undo()
    assert commits == ["overwrite"]

    skip = ["_SK_METRICS_FACT", "_TF_LAST_UPDATE", "Is_updated"]
    con = duckdb.connect()
    _csv_views(con, fixture_dirs["today"])
    try:
        compare_with_oracle(
            pipeline.curated.read().drop(*skip),
            con,
            f"SELECT * EXCLUDE ({', '.join(skip)}) FROM ({GOLDEN_SQL})",
            name="metrics_fact_incremental",
        )
    finally:
        con.close()


def _multi_year_snapshots(root: str) -> dict[str, str]:
    """The fixture snapshots spread over three Years: January's days
    move to 2019, February's to 2020, and the new day (1 March) stays
    in 2021. Yesterday's corrections are kept only in 2020, so the
    2019 rows are the same in both snapshots."""
    dirs = generate(root)
    anchor = (RUN_DATE - dt.timedelta(days=1)).isoformat()
    moved = {"2021-01": "2019", "2021-02": "2020"}

    def read(path):
        with open(path, newline="") as f:
            return list(csv.reader(f))

    def move(rows, i):
        for r in rows:
            r[i] = moved.get(r[i][:7], r[i][:4]) + r[i][4:]
        return rows

    for name in ("owid_covid_data", "vaccinations", "hospitalizations", "excess_mortality", "full_data"):
        paths = [os.path.join(dirs[d], f"{name}.csv") for d in ("today", "yesterday")]
        (header, *today), (_, *yday) = map(read, paths)
        i = header.index("date")
        kept = [r for r in today if r[i] != anchor]
        assert [r[i] for r in kept] == [r[i] for r in yday]
        yday = [t if t[i].startswith("2021-01") else y for t, y in zip(kept, yday)]
        for path, rows in zip(paths, (today, yday)):
            with open(path, "w", newline="") as f:
                csv.writer(f).writerows([header, *move(rows, i)])
    return dirs


def test_incremental_day_rewrites_only_touched_years(spark, tmp_path):
    """On a curated lake spanning several Years, a day whose corrections
    land in 2020 and whose new slice lands in 2021 leaves the 2019
    partition's files as they were, and the table still equals the
    full refresh of today's snapshot."""
    dirs = _multi_year_snapshots(str(tmp_path / "raw"))
    root = tmp_path / "lake"
    pipe = covid.CovidPipeline(
        spark, curated_root=str(root / "curated"), enterprise_root=str(root / "enterprise")
    )
    pipe.run_full(dirs["yesterday"], run_ts=RUN_TS)
    untouched = _partition_files(pipe.curated_root, "Year=2019")

    pipe.run_incremental(dirs["today"], dirs["yesterday"], run_date=RUN_DATE, run_ts=RUN_TS)

    assert _partition_files(pipe.curated_root, "Year=2019") == untouched
    fact = pipe.curated.read()
    flagged = {r.Year: r["count"] for r in fact.filter(F.col("Is_updated") == "Y").groupBy("Year").count().collect()}
    assert set(flagged) == {2020, 2021} and flagged[2020] > 0
    skip = ["_SK_METRICS_FACT", "_TF_LAST_UPDATE", "Is_updated"]
    con = duckdb.connect()
    _csv_views(con, dirs["today"])
    try:
        compare_with_oracle(
            fact.drop(*skip),
            con,
            f"SELECT * EXCLUDE ({', '.join(skip)}) FROM ({GOLDEN_SQL})",
            name="metrics_fact_multi_year",
        )
    finally:
        con.close()


@pytest.mark.slow
def test_incremental_updates_and_inserts(spark, pipeline, fixture_dirs):
    # Start from yesterday's snapshot as the curated state.
    pipeline.run_full(fixture_dirs["yesterday"], run_ts=RUN_TS)
    before = pipeline.curated.read()
    n_before = before.count()
    max_sk_before = before.agg(F.max("_SK_METRICS_FACT")).first()[0]
    last_day = RUN_DATE - dt.timedelta(days=1)

    pipeline.run_incremental(
        fixture_dirs["today"], fixture_dirs["yesterday"], run_date=RUN_DATE, run_ts=RUN_TS
    )
    after = pipeline.curated.read()

    # The new day appended: one row per owid (iso, last_day) row.
    new_rows = after.filter(F.col("Date") == F.lit(last_day.isoformat()).cast("date"))
    assert new_rows.count() > 0
    assert after.count() == n_before + new_rows.count()
    # Surrogate keys continue past the previous max, stay unique.
    assert new_rows.agg(F.min("_SK_METRICS_FACT")).first()[0] == max_sk_before + 1
    assert after.select("_SK_METRICS_FACT").distinct().count() == after.count()
    # Corrections flagged for DW propagation.
    assert after.filter((F.col("Is_updated") == "Y") & (F.col("Date") != F.lit(last_day.isoformat()).cast("date"))).count() > 0


@pytest.mark.slow
def test_incremental_idempotent_when_no_change(spark, pipeline, fixture_dirs):
    # Diffing identical snapshots must change nothing (SURVEY §5 item 4).
    pipeline.run_full(fixture_dirs["today"], run_ts=RUN_TS)
    state1 = sorted(map(tuple, pipeline.curated.read().collect()))
    pipeline.run_incremental(
        fixture_dirs["today"], fixture_dirs["today"], run_date=RUN_DATE, run_ts=RUN_TS
    )
    state2 = sorted(map(tuple, pipeline.curated.read().collect()))
    assert state1 == state2


@pytest.mark.slow
def test_enterprise_load_full_and_incremental(spark, pipeline, fixture_dirs):
    pipeline.run_full(fixture_dirs["yesterday"], run_ts=RUN_TS)
    pipeline.load_enterprise(full_mode=True, run_date=RUN_DATE)
    ent1 = pipeline.enterprise.read()
    cur1 = pipeline.curated.read()
    assert ent1.count() == cur1.count()
    assert "Is_updated" not in ent1.columns and "Year" not in ent1.columns
    # Flags were reset after propagation.
    assert cur1.filter(F.col("Is_updated") == "Y").count() == 0

    pipeline.run_incremental(
        fixture_dirs["today"], fixture_dirs["yesterday"], run_date=RUN_DATE, run_ts=RUN_TS
    )
    pipeline.load_enterprise(full_mode=False, run_date=RUN_DATE)
    ent2 = pipeline.enterprise.read()
    assert ent2.count() == pipeline.curated.read().count()
    # Keys unique after the merge; no duplicate (CodeISO, Date) grain.
    assert ent2.select("CodeISO", "Date").distinct().count() == ent2.count()


def test_merge_target_factory_backend_selection(spark, tmp_path):
    """make_merge_target picks Delta when delta-spark is importable
    (not in this container) and the parquet stand-in otherwise; covid
    e2e above runs whichever backend the factory selects, so a future
    delta-enabled environment exercises the native path with no code
    change."""
    from fsc_etl_spark.operators.merge import (
        DeltaMergeTarget,
        ParquetMergeTarget,
        delta_available,
        make_merge_target,
    )

    tgt = make_merge_target(spark, str(tmp_path / "tbl"))
    expected = DeltaMergeTarget if delta_available() else ParquetMergeTarget
    assert isinstance(tgt, expected)


@pytest.mark.slow
def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-pruned MERGE: the source touches one partition; the
    other partition's files must remain byte-identical on disk, and
    the merged table must equal the full-table merge semantics."""
    import os

    from fsc_etl_spark.operators.merge import ParquetMergeTarget, merge_frames

    def files_of(root, part):
        pdir = os.path.join(root, "current", f"day={part}")
        return sorted(
            (f, os.path.getmtime(os.path.join(pdir, f)), os.path.getsize(os.path.join(pdir, f)))
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )

    root = str(tmp_path / "ptbl")
    tgt = ParquetMergeTarget(spark, root, partition_cols=["day"])
    initial = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d2", 40)],
        "id int, day string, v int",
    )
    tgt.overwrite(initial)
    untouched_before = files_of(root, "d2")

    source = spark.createDataFrame(
        [(1, "d1", 11), (9, "d1", 99)], "id int, day string, v int"
    )
    tgt.merge(source, on=["id"])

    assert files_of(root, "d2") == untouched_before, "untouched partition rewritten"
    got = sorted((r.id, r.day, r.v) for r in tgt.read().collect())
    want = sorted(
        (r.id, r.day, r.v)
        for r in merge_frames(initial, source, ["id"]).collect()
    )
    assert got == want


def test_partitioned_merge_new_partition_inserts(spark, tmp_path):
    """A source bringing a brand-new partition value lands as a new
    partition directory without disturbing existing ones."""
    import os

    from fsc_etl_spark.operators.merge import ParquetMergeTarget

    root = str(tmp_path / "ptbl2")
    tgt = ParquetMergeTarget(spark, root, partition_cols=["day"])
    tgt.overwrite(
        spark.createDataFrame([(1, "d1", 10)], "id int, day string, v int")
    )
    tgt.merge(
        spark.createDataFrame([(2, "d3", 30)], "id int, day string, v int"),
        on=["id"],
    )
    assert os.path.isdir(os.path.join(root, "current", "day=d3"))
    got = sorted((r.id, r.day, r.v) for r in tgt.read().collect())
    assert got == [(1, "d1", 10), (2, "d3", 30)]


def _partition_files(root: str, part: str) -> list[tuple]:
    """(name, inode, mtime) of every file in one partition directory of
    a parquet merge target."""
    pdir = os.path.join(root, "current", part)
    return sorted(
        (f, os.stat(os.path.join(pdir, f)).st_ino, os.stat(os.path.join(pdir, f)).st_mtime_ns)
        for f in os.listdir(pdir)
    )


def test_partitioned_overwrite_replaces_only_its_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a frame holding one partition
    replaces that partition and leaves every other partition's files
    on disk as they were (same inode and mtime)."""
    from fsc_etl_spark.operators.merge import ParquetMergeTarget

    root = str(tmp_path / "ptbl3")
    tgt = ParquetMergeTarget(spark, root, partition_cols=["day"])
    tgt.overwrite(
        spark.createDataFrame([(1, "d1", 10), (2, "d2", 20)], "id int, day string, v int")
    )
    untouched_before = _partition_files(root, "day=d2")
    tgt.overwrite(spark.createDataFrame([(3, "d1", 30)], "id int, day string, v int"))

    assert _partition_files(root, "day=d2") == untouched_before, "untouched partition rewritten"
    got = sorted((r.id, r.day, r.v) for r in tgt.read().collect())
    assert got == [(2, "d2", 20), (3, "d1", 30)]
