"""The COVID star-schema pipeline — parity re-expression of the
reference's end-to-end flow (SURVEY.md §3), Spark-first.

Reference lifecycle (``/root/reference/main.py``):
  extract 5 CSVs → all-string scans + projection (main.py:75-79) →
  countries dim by distinct (98-99) → iso attach joins (102-103) →
  manual 4-filter pivot (106-114) → cast manifest (119-135) →
  7-way left-join star assembly (213-229) → Delta write partitioned by
  Year/Month (235) → incremental: snapshot subtract (89-93) +
  yesterday split (128-135, 201-208) + 8 MERGEs (138-199) + append
  (208) → enterprise/DW upsert with surrogate keys (252-304).

Differences by design (each justified in SURVEY.md §7):
- pivot is ONE ``groupBy().pivot()`` (single shuffle) instead of four
  filter+join passes;
- the countries dim is broadcast;
- surrogate keys via ``row_number`` window, not ``rdd.zipWithIndex``;
- no ``coalesce(1)`` on writes; partitioned parquet + atomic-swap
  merge target stands in for Delta (no delta-spark on classpath);
- ``run_date`` is a parameter — the reference hardwires
  ``current_date()`` (untestable, SURVEY §7c);
- the reference's ``main.py:93`` self-subtract bug (full_data diffed
  against itself → CDC always empty) is fixed: every source diffs
  today against yesterday;
- the ``main.py:203`` ``!=``-vs-``==`` inconsistency for
  excess_mortality inserts is normalized to ``==`` (insert = the
  yesterday slice), matching the other four sources' semantics;
- the incremental day's 8 MERGEs and append are one Spark plan and one
  curated commit: the per-source updates are broadcast left joins onto
  the touched Year partitions, the new day's slice is unioned in, and
  the result replaces just those partitions, so the snapshots are
  scanned and diffed once per day rather than once per commit.
"""

from __future__ import annotations

import datetime as dt
import functools
import operator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fsc_etl_spark import schemas
from fsc_etl_spark.functions.casting import COVID_CAST_MANIFEST, cast_types
from fsc_etl_spark.operators.cdc import snapshot_diff, split_inserts_updates
from fsc_etl_spark.operators.joins import dim_join, star_left_join
from fsc_etl_spark.operators.keys import max_key, surrogate_keys
from fsc_etl_spark.operators.merge import make_merge_target
from fsc_etl_spark.operators.quality import enforce, expect_not_null, expect_unique
from fsc_etl_spark.operators.pivot import pivot_indicator
from fsc_etl_spark.sources.readers import read_csv

METRIC_COLS = [
    "New_cases",
    "New_deaths",
    "Total_cases",
    "Total_deaths",
    "Weekly_cases",
    "Weekly_deaths",
    "Daily_hospital_occupancy",
    "Daily_icu_occupancy",
    "Weekly_new_hospital_admissions",
    "Weekly_new_icu_admissions",
    "Total_vaccinations",
    "Daily_vaccinations",
    "Total_boosters_vaccinations",
    "New_tests",
    "Total_tests",
    "Projection_excess_death",
    "Stringency_index",
    "Population",
    "Aged_65_older_perc",
    "Aged_70_older_perc",
]

FACT_ORDER = [
    "_SK_METRICS_FACT",
    "_TF_LAST_UPDATE",
    "Location",
    "CodeISO",
    "Date",
    *METRIC_COLS,
    "Year",
    "Month",
    "Is_updated",
]


def load_sources(spark: SparkSession, raw_dir: str) -> dict[str, DataFrame]:
    """S5 scans: header CSV, declared all-string schemas, projected at
    the scan (main.py:75-79)."""
    return {
        name: read_csv(spark, f"{raw_dir}/{name}.csv", schema)
        for name, schema in schemas.COVID_SOURCES.items()
    }


def typed_sources(raw: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Apply the shared cast manifest to every source (main.py:128-135
    uses one manifest for all frames; absent columns skip)."""
    return {name: cast_types(df, COVID_CAST_MANIFEST) for name, df in raw.items()}


def countries_mapping(owid: DataFrame) -> DataFrame:
    """The location↔iso dimension by distinct (A1, main.py:98-99)."""
    return owid.select("location", "iso_code").distinct()


def attach_iso(df: DataFrame, mapping: DataFrame) -> DataFrame:
    """J1: attach iso_code to location-keyed sources via the broadcast
    countries dim (main.py:102-103)."""
    return dim_join(df, mapping.withColumnRenamed("location", "location_map"),
                    left_col="location", right_col="location_map").drop("location_map", "location")


def pivot_hospitalizations(hosp: DataFrame) -> DataFrame:
    """P7 idiomatic: indicator long→wide in one shuffle
    (vs main.py:106-114's 4 filters + 4 joins)."""
    return pivot_indicator(
        hosp,
        group_cols=["iso_code", "date"],
        pivot_col="indicator",
        value_map=schemas.HOSP_INDICATORS,
    )


def assemble_metrics_fact(
    typed: dict[str, DataFrame],
    run_ts: dt.datetime | None = None,
) -> DataFrame:
    """The star assembly (main.py:213-229): owid base left-joined with
    every satellite on (iso_code, date), renamed to the Metrics_Fact
    contract, nulls→0, Year/Month partition columns derived.

    Satellites are keyed identically, so the whole chain reuses one
    hash partitioning of the base — one shuffle per input, not per
    join.
    """
    owid = typed["owid_covid_data"]
    mapping = countries_mapping(owid)

    excess = attach_iso(typed["excess_mortality"], mapping).withColumnRenamed(
        "excess_proj_all_ages", "Projection_excess_death"
    )
    full = attach_iso(typed["full_data"], mapping)
    vaccs = typed["vaccinations"].withColumnsRenamed(
        {
            "total_vaccinations": "Total_vaccinations",
            "daily_vaccinations": "Daily_vaccinations",
            "total_boosters": "Total_boosters_vaccinations",
        }
    )
    hosp = pivot_hospitalizations(typed["hospitalizations"])

    wide = star_left_join(owid, [full, excess, vaccs, hosp], on=["iso_code", "date"])

    renamed = wide.withColumnsRenamed(
        {
            "location": "Location",
            "iso_code": "CodeISO",
            "date": "Date",
            "new_cases": "New_cases",
            "new_deaths": "New_deaths",
            "total_cases": "Total_cases",
            "total_deaths": "Total_deaths",
            "weekly_cases": "Weekly_cases",
            "weekly_deaths": "Weekly_deaths",
            "new_tests": "New_tests",
            "total_tests": "Total_tests",
            "stringency_index": "Stringency_index",
            "population": "Population",
            "aged_65_older": "Aged_65_older_perc",
            "aged_70_older": "Aged_70_older_perc",
        }
    )

    ts = F.lit(run_ts).cast("timestamp") if run_ts is not None else F.current_timestamp()
    return (
        renamed.na.fill(0, METRIC_COLS)
        .withColumn("_TF_LAST_UPDATE", ts)
        .withColumn("Year", F.year("Date"))
        .withColumn("Month", F.date_format("Date", "MM"))
        .withColumn("Is_updated", F.lit("N"))
    )


def apply_updates(
    curated: DataFrame,
    update_frames: list[tuple[list[str], DataFrame]],
    run_date: dt.date,
    run_ts: dt.datetime | None = None,
) -> DataFrame:
    """The update-only MERGEs of main.py:138-199 as one lazy plan over
    the curated fact, restricted to the Year partitions that the update
    keys and the anchor day (``run_date`` - 1, where the insert slice
    lands) touch.

    Each ``(cols, frame)`` is a source keyed by (CodeISO, Date), joined
    in by broadcast. Its values carry the full refresh's null → 0 fill,
    so NULL after the join means the source has no row for that key
    (for the pivoted hospitalizations: no row for that indicator). A
    column takes its source's value only where that row is present;
    ``_TF_LAST_UPDATE`` and ``Is_updated='Y'`` are set where any source
    matched.
    """
    keys = ["CodeISO", "Date"]
    ts = F.lit(run_ts).cast("timestamp") if run_ts is not None else F.current_timestamp()
    anchor = F.date_sub(F.lit(run_date).cast("date"), 1)
    years = curated.sparkSession.range(1).select(F.year(anchor).alias("Year"))
    for _, frame in update_frames:
        years = years.union(frame.select(F.year("Date").alias("Year")))
    out = curated.join(F.broadcast(years.distinct()), "Year", "left_semi")

    new = {c: f"__new_{c}" for cols, _ in update_frames for c in cols}
    for cols, frame in update_frames:
        src = frame.select(*keys, *[F.col(c).alias(new[c]) for c in cols])
        out = out.join(F.broadcast(src), keys, "left")
    matched = functools.reduce(operator.or_, [F.col(n).isNotNull() for n in new.values()])
    return out.withColumns(
        {
            **{c: F.coalesce(F.col(n), F.col(c)) for c, n in new.items()},
            "_TF_LAST_UPDATE": F.when(matched, ts).otherwise(F.col("_TF_LAST_UPDATE")),
            "Is_updated": F.when(matched, F.lit("Y")).otherwise(F.col("Is_updated")),
        }
    ).drop(*new.values())


@dataclass
class CovidPipeline:
    """Entry points A/B/C (SURVEY.md §3) over parquet-backed targets."""

    spark: SparkSession
    curated_root: str
    enterprise_root: str

    def __post_init__(self) -> None:
        # Real Delta tables when delta-spark is on the classpath;
        # parquet stand-in otherwise (same interface).
        # Partition layouts chosen for pruned merges with stable
        # key→partition mapping: curated by Year (int — directory
        # round-trip safe; Month is a zero-padded STRING that dir
        # inference would corrupt to int), enterprise by Date (date
        # values round-trip). Daily incremental merges then rewrite
        # only the touched year / the corrected dates.
        self.curated = make_merge_target(
            self.spark, self.curated_root, partition_cols=["Year"]
        )
        self.enterprise = make_merge_target(
            self.spark, self.enterprise_root, partition_cols=["Date"]
        )

    # -- entry A: full refresh ------------------------------------------------
    def run_full(self, raw_dir: str, run_ts: dt.datetime | None = None) -> None:
        """FULLMODE='Y' (main.py:231-235): reset curated, rebuild from
        today's snapshot, write partitioned by Year/Month."""
        typed = typed_sources(load_sources(self.spark, raw_dir))
        fact = assemble_metrics_fact(typed, run_ts=run_ts)
        fact = surrogate_keys(
            fact, order_by=["CodeISO", "Date"], key_col="_SK_METRICS_FACT", mode="distributed"
        )
        self.curated.delete_all()
        self.curated.overwrite(fact.select(*FACT_ORDER))

    # -- entry B: incremental daily CDC --------------------------------------
    def run_incremental(
        self,
        raw_today: str,
        raw_yesterday: str,
        run_date: dt.date,
        run_ts: dt.datetime | None = None,
    ) -> None:
        """FULLMODE='N' (main.py:89-208) as one Spark plan and one
        curated commit. Each source is diffed against yesterday's
        snapshot. Corrections to prior dates update the curated fact
        (:func:`apply_updates`); the yesterday slice goes through the
        star assembly, with surrogate keys continuing past the current
        max. The two streams are unioned and committed by ``overwrite``,
        which on the Year-partitioned curated table replaces only the
        partitions present: those the corrections and the new day
        touch."""
        today = typed_sources(load_sources(self.spark, raw_today))
        yesterday = typed_sources(load_sources(self.spark, raw_yesterday))
        changed = {n: snapshot_diff(today[n], yesterday[n]) for n in today}

        # Insert stream: the yesterday slice through the full assembly.
        inserts_typed = {}
        for name, df in changed.items():
            ins, _ = split_inserts_updates(df, date_col="date", run_date=run_date)
            inserts_typed[name] = ins
        # The base table drives the grain: if owid has no new yesterday
        # rows there is nothing to insert (reference behavior: the star
        # assembly starts from owid, main.py:213).
        fact_new = assemble_metrics_fact(inserts_typed, run_ts=run_ts)
        start = max_key(self.curated.read(), "_SK_METRICS_FACT") if self.curated.exists() else 0
        fact_new = surrogate_keys(
            fact_new,
            order_by=["CodeISO", "Date"],
            key_col="_SK_METRICS_FACT",
            start_from=start,
            mode="distributed",
        ).withColumn("Is_updated", F.lit("Y")).select(*FACT_ORDER)

        if self.curated.exists():
            mapping = countries_mapping(today["owid_covid_data"])
            updated = apply_updates(
                self.curated.read(), self._update_frames(changed, mapping, run_date), run_date, run_ts
            )
            fact_new = updated.select(*FACT_ORDER).unionByName(fact_new)
        self.curated.overwrite(fact_new)

    def _update_frames(self, changed, mapping, run_date):
        """(update_cols, frame keyed by CodeISO/Date) per source —
        the declarative equivalent of main.py:138-189's merge specs.

        Changed rows get the full refresh's null → 0 fill before they
        are shaped, so a value is NULL only where its source has no
        row. The hospitalizations pivot is filled per long row, so each
        indicator stays its own source, as the reference's per-indicator
        MERGEs are: a correction to one indicator updates that column
        only."""
        out = []
        anchor = F.date_sub(F.lit(run_date).cast("date"), 1)

        def updates_of(df):
            return df.filter(F.col("date") != anchor).na.fill(0)

        owid = updates_of(changed["owid_covid_data"]).withColumnsRenamed(
            {
                "location": "Location",
                "iso_code": "CodeISO",
                "date": "Date",
                "stringency_index": "Stringency_index",
                "population": "Population",
                "aged_65_older": "Aged_65_older_perc",
                "aged_70_older": "Aged_70_older_perc",
                "new_tests": "New_tests",
                "total_tests": "Total_tests",
            }
        )
        out.append(
            (
                ["Stringency_index", "Population", "Aged_65_older_perc", "Aged_70_older_perc", "New_tests", "Total_tests"],
                owid.select("CodeISO", "Date", "Stringency_index", "Population", "Aged_65_older_perc",
                            "Aged_70_older_perc", "New_tests", "Total_tests"),
            )
        )

        vaccs = updates_of(changed["vaccinations"]).withColumnsRenamed(
            {
                "iso_code": "CodeISO",
                "date": "Date",
                "total_vaccinations": "Total_vaccinations",
                "daily_vaccinations": "Daily_vaccinations",
                "total_boosters": "Total_boosters_vaccinations",
            }
        )
        out.append(
            (
                ["Total_vaccinations", "Daily_vaccinations", "Total_boosters_vaccinations"],
                vaccs.select("CodeISO", "Date", "Total_vaccinations", "Daily_vaccinations",
                             "Total_boosters_vaccinations"),
            )
        )

        hosp = pivot_hospitalizations(updates_of(changed["hospitalizations"])).withColumnsRenamed(
            {"iso_code": "CodeISO", "date": "Date"}
        )
        hosp_cols = list(schemas.HOSP_INDICATORS.values())
        out.append((hosp_cols, hosp.select("CodeISO", "Date", *hosp_cols)))

        excess = attach_iso(updates_of(changed["excess_mortality"]), mapping).withColumnsRenamed(
            {"iso_code": "CodeISO", "date": "Date", "excess_proj_all_ages": "Projection_excess_death"}
        )
        out.append((["Projection_excess_death"], excess.select("CodeISO", "Date", "Projection_excess_death")))

        full = attach_iso(updates_of(changed["full_data"]), mapping).withColumnsRenamed(
            {
                "iso_code": "CodeISO",
                "date": "Date",
                "new_cases": "New_cases",
                "new_deaths": "New_deaths",
                "total_cases": "Total_cases",
                "total_deaths": "Total_deaths",
                "weekly_cases": "Weekly_cases",
                "weekly_deaths": "Weekly_deaths",
            }
        )
        out.append(
            (
                ["New_cases", "New_deaths", "Total_cases", "Total_deaths", "Weekly_cases", "Weekly_deaths"],
                full.select("CodeISO", "Date", "New_cases", "New_deaths", "Total_cases", "Total_deaths",
                            "Weekly_cases", "Weekly_deaths"),
            )
        )
        return out

    # -- entry C: enterprise / DW load ----------------------------------------
    def load_enterprise(self, full_mode: bool, run_date: dt.date) -> None:
        """Main.py:252-304: split curated into updates (Is_updated='Y',
        existing enterprise keys) and inserts (yesterday slice or all in
        full mode), continue surrogate keys from the enterprise max,
        upsert, then reset the curated flag."""
        curated = self.curated.read().drop("Year", "Month")

        # Full mode rebuilds the DW from scratch (the reference resets
        # max_key to 0 under FULLMODE, main.py:283): no update split,
        # and — critically — no lazy plan over the enterprise's own
        # files, which delete_all() below would pull out from under a
        # pending write.
        if self.enterprise.exists() and not full_mode:
            ent = self.enterprise.read()
            start = max_key(ent, "_SK_METRICS_FACT")
            ent_keys = ent.select("CodeISO", "Date", F.col("_SK_METRICS_FACT").alias("_SK_ENT"))
            updates = (
                curated.filter(F.col("Is_updated") == "Y")
                .join(ent_keys, ["CodeISO", "Date"], "inner")
                .withColumn("_SK_METRICS_FACT", F.col("_SK_ENT"))
                .drop("_SK_ENT")
            )
        else:
            start = 0
            updates = curated.limit(0)

        if full_mode:
            inserts = curated
        else:
            anchor = F.date_sub(F.lit(run_date).cast("date"), 1)
            inserts = curated.filter(F.col("Date") == anchor)
        inserts = surrogate_keys(
            inserts.drop("_SK_METRICS_FACT"),
            order_by=["CodeISO", "Date"],
            key_col="_SK_METRICS_FACT",
            start_from=start,
            mode="distributed",
        )

        payload = updates.unionByName(inserts.select(*updates.columns)).drop("Is_updated")
        if full_mode:
            self.enterprise.delete_all()
        self.enterprise.merge(payload, on=["CodeISO", "Date"], delta_col="_TF_LAST_UPDATE")
        # Post-merge grain gate (operators/quality.py): the warehouse
        # table must stay unique on (CodeISO, Date) and key-complete —
        # one aggregate pass, raises before bad data propagates.
        enforce(
            self.enterprise.read(),
            {
                "dup_grain": expect_unique("CodeISO", "Date"),
                "null_code": expect_not_null("CodeISO"),
                "null_date": expect_not_null("Date"),
            },
        )

        # M6 flag reset back into curated.
        self.curated.update_flag("Is_updated", "N", F.col("Is_updated") == "Y")
