"""Streaming COVID incrementality — SURVEY.md §2.11 design (b).

The reference emulates a stream in batch: daily snapshot diff + MERGE
(``/root/reference/main.py:89-199``). The same semantics expressed as
an actual stream: a drop directory receives owid-shaped correction
CSVs (each file = one upstream revision batch); a file-source
readStream casts them through the same manifest and a ``foreachBatch``
sink applies them as an update-only MERGE — the batch pipeline's owid
update semantics, including the null → 0 fill — exactly-once per epoch
against the idempotent merge target.

At scale this is the production topology: object-store notifications
feed micro-batches, the merge shuffles only on the (CodeISO, Date)
key, and checkpointed offsets make replays idempotent (the merge is
last-writer-wins on the audit timestamp).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fsc_etl_spark import schemas
from fsc_etl_spark.functions.casting import COVID_CAST_MANIFEST, cast_types
from fsc_etl_spark.operators.merge import ParquetMergeTarget
from fsc_etl_spark.streaming.pipeline import run_foreach_batch

OWID_RENAMES = {
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
OWID_UPDATE_COLS = [
    "Stringency_index",
    "Population",
    "Aged_65_older_perc",
    "Aged_70_older_perc",
    "New_tests",
    "Total_tests",
]


def stream_owid_corrections(spark: SparkSession, drop_dir: str) -> DataFrame:
    """All-string CSV stream of owid-shaped correction rows, cast
    through the shared manifest and renamed to fact columns — the
    streaming twin of the batch update stream's owid branch."""
    raw = (
        spark.readStream.schema(schemas.OWID_COVID_DATA)
        .option("header", "true")
        .csv(drop_dir)
    )
    typed = cast_types(raw, COVID_CAST_MANIFEST)
    return typed.withColumnsRenamed(OWID_RENAMES).select(
        "CodeISO", "Date", *OWID_UPDATE_COLS
    )


def run_streaming_corrections(
    spark: SparkSession,
    drop_dir: str,
    curated: ParquetMergeTarget,
    run_ts: dt.datetime,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain the drop directory (AvailableNow) applying update-only
    MERGEs to the curated fact table; returns its final state.

    Matches the batch semantics of ``CovidPipeline.run_incremental``'s
    owid updates: matched (CodeISO, Date) rows get the six owid
    metric columns, with the full refresh's null → 0 fill, plus the
    audit timestamp and ``Is_updated='Y'``; unmatched correction rows
    are DROPPED (whenMatchedUpdate only, main.py:191-199). Within a
    micro-batch, later files win via the max-timestamp dedup before
    the merge.
    """
    corrections = stream_owid_corrections(spark, drop_dir)

    def _apply(batch: DataFrame, _epoch: int) -> None:
        from pyspark.sql.window import Window

        if not batch.columns:
            return
        ranked = batch.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("CodeISO", "Date").orderBy(
                    *[F.col(c).desc_nulls_last() for c in OWID_UPDATE_COLS]
                )
            ),
        )
        src = (
            ranked.filter(F.col("__rn") == 1)
            .drop("__rn")
            .na.fill(0, OWID_UPDATE_COLS)
            .withColumn("_TF_LAST_UPDATE", F.lit(run_ts).cast("timestamp"))
            .withColumn("Is_updated", F.lit("Y"))
        )
        curated.merge(
            src,
            on=["CodeISO", "Date"],
            update_cols=[*OWID_UPDATE_COLS, "_TF_LAST_UPDATE", "Is_updated"],
            when_not_matched_insert=False,
        )

    run_foreach_batch(corrections, _apply, checkpoint_dir=checkpoint_dir)
    return curated.read()
