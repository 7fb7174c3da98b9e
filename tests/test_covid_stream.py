"""Streaming COVID corrections feed (SURVEY §2.11 design b): CSV
files dropped into a watched directory MERGE-update the curated fact
table with the same semantics as the batch update stream, exactly
once per file across checkpointed AvailableNow passes.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from fsc_etl_spark.plans import covid
from fsc_etl_spark.streaming.covid_stream import run_streaming_corrections

from covid_fixtures import generate

RUN_TS = dt.datetime(2021, 3, 2, 6, 0, 0)
STREAM_TS = dt.datetime(2021, 3, 2, 12, 0, 0)

OWID_HEADER = [
    "location", "iso_code", "date", "stringency_index", "population",
    "aged_65_older", "aged_70_older", "new_tests", "total_tests",
]


def _drop_file(drop_dir: str, name: str, rows: list[list[str]]) -> None:
    path = os.path.join(drop_dir, name)
    with open(path + ".tmp", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(OWID_HEADER)
        w.writerows(rows)
    os.replace(path + ".tmp", path)  # atomic: the stream never sees partials


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    raw = generate(str(tmp_path_factory.mktemp("covid_raw")))
    pipeline = covid.CovidPipeline(
        spark,
        curated_root=str(tmp_path_factory.mktemp("lake") / "curated"),
        enterprise_root=str(tmp_path_factory.mktemp("lake") / "enterprise"),
    )
    pipeline.run_full(raw["today"], run_ts=RUN_TS)
    return pipeline.curated


def _metric(curated, iso: str, date: str, col: str):
    return (
        curated.read()
        .filter((F.col("CodeISO") == iso) & (F.col("Date") == F.lit(date).cast("date")))
        .select(col, "Is_updated", "_TF_LAST_UPDATE")
        .collect()[0]
    )


def test_streaming_corrections_merge_and_checkpoint(spark, curated):
    base = tempfile.mkdtemp(prefix="fsc_covid_stream_")
    drop_dir = os.path.join(base, "drop")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(drop_dir)

    before = curated.read()
    n_before = before.count()
    row = before.filter(F.col("CodeISO") == "FRA").select("Date").orderBy("Date").first()
    target_date = row["Date"].isoformat()

    # File 1: one matched correction (FRA) + one unmatched country.
    _drop_file(
        drop_dir,
        "corr1.csv",
        [
            ["France", "FRA", target_date, "55.5", "777", "9", "9", "123", "456"],
            ["Atlantis", "ATL", target_date, "1.0", "1", "1", "1", "1", "1"],
        ],
    )
    run_streaming_corrections(spark, drop_dir, curated, STREAM_TS, checkpoint_dir=ckpt)

    after = _metric(curated, "FRA", target_date, "Population")
    assert after["Population"] == 777
    assert after["Is_updated"] == "Y"
    assert after["_TF_LAST_UPDATE"] == STREAM_TS
    # whenMatchedUpdate only: the unmatched country must NOT be inserted.
    assert curated.read().count() == n_before
    assert curated.read().filter(F.col("CodeISO") == "ATL").count() == 0

    # File 2 arrives later; resume from the SAME checkpoint: file 1 is
    # not reprocessed (its values would clash with the new ones), file
    # 2 applies.
    _drop_file(
        drop_dir,
        "corr2.csv",
        [["France", "FRA", target_date, "60.0", "888", "9", "9", "123", "456"]],
    )
    run_streaming_corrections(spark, drop_dir, curated, STREAM_TS, checkpoint_dir=ckpt)
    assert _metric(curated, "FRA", target_date, "Population")["Population"] == 888
    assert curated.read().count() == n_before


def test_streaming_correction_fills_empty_fields_with_zero(spark, curated):
    """An empty or non-numeric field in a streamed correction becomes 0,
    the full refresh's null fill, never a NULL in the curated fact."""
    base = tempfile.mkdtemp(prefix="fsc_covid_stream_fill_")
    drop_dir = os.path.join(base, "drop")
    os.makedirs(drop_dir)
    row = curated.read().filter(F.col("CodeISO") == "DEU").select("Date").orderBy("Date").first()
    target_date = row["Date"].isoformat()

    _drop_file(
        drop_dir,
        "corr.csv",
        [["Germany", "DEU", target_date, "42.0", "", "9", "9", "N/A", "456"]],
    )
    run_streaming_corrections(
        spark, drop_dir, curated, STREAM_TS, checkpoint_dir=os.path.join(base, "ckpt")
    )

    got = (
        curated.read()
        .filter((F.col("CodeISO") == "DEU") & (F.col("Date") == F.lit(target_date).cast("date")))
        .select("Stringency_index", "Population", "New_tests", "Total_tests", "Is_updated")
        .collect()
    )
    assert [tuple(r) for r in got] == [(42.0, 0, 0, 456, "Y")]
