"""Snapshot-diff CDC (SURVEY.md §2.7 SO1, §2.2 P4/P5).

The reference detects change by subtracting yesterday's snapshot from
today's (``/root/reference/main.py:89-93`` — note the documented
self-subtract bug on full_data at main.py:93, which we fix by always
diffing today against yesterday) and then splits changed rows into

- *updates*: rows whose date is NOT the run date - 1 (corrections to
  prior days → MERGE whenMatchedUpdate, main.py:128-135), and
- *inserts*: rows dated exactly run date - 1 (the new daily slice →
  append, main.py:201-208).

The reference anchors on ``current_date()`` which makes runs
untestable; we parameterize ``run_date`` (SURVEY.md §7 hard-part c).

``subtract`` is EXCEPT DISTINCT — a full-row hash-aggregate + anti
semantics. At 100 TB the right physical shape is a shuffle on a
row-hash; Spark's built-in handles this, and AQE coalesces the output.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(today: DataFrame, yesterday: DataFrame) -> DataFrame:
    """Rows new or changed since the previous snapshot (SO1)."""
    return today.subtract(yesterday)


def split_inserts_updates(
    changed: DataFrame,
    date_col: str,
    run_date: dt.date | str,
) -> tuple[DataFrame, DataFrame]:
    """(inserts, updates) per the reference's yesterday-anchored split.

    inserts: ``date == run_date - 1 day``; updates: everything else.
    """
    anchor = F.date_sub(F.lit(run_date).cast("date"), 1)
    inserts = changed.filter(F.col(date_col) == anchor)
    updates = changed.filter(F.col(date_col) != anchor)
    return inserts, updates


def keyed_changes(
    before: DataFrame,
    after: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Keyed change set between two table states: one row per changed
    key with ``_change_type`` in {insert, update_postimage, delete} —
    Delta's Change Data Feed row types, derived from state diffs.

    Shape: one full-outer-style pass via two anti/semi compositions —
    a single shuffle on the key for each side, no row-by-row compare
    (unchanged rows hash-match away in the subtracts). Use with
    ``ParquetMergeTarget.read_version`` to get CDF between any two
    retained versions.
    """
    keys = list(on)
    b_changed = before.subtract(after)
    a_changed = after.subtract(before)
    deletes = b_changed.join(after.select(*keys), keys, "left_anti").select(
        *[F.col(c) for c in before.columns], F.lit("delete").alias("_change_type")
    )
    inserts = a_changed.join(before.select(*keys), keys, "left_anti").select(
        *[F.col(c) for c in after.columns], F.lit("insert").alias("_change_type")
    )
    updates = a_changed.join(before.select(*keys), keys, "left_semi").select(
        *[F.col(c) for c in after.columns],
        F.lit("update_postimage").alias("_change_type"),
    )
    return inserts.unionByName(updates).unionByName(deletes)


def table_changes(target, from_version: int, to_version: int, on: Sequence[str]):
    """Delta-CDF-style ``table_changes``: the keyed change set between
    two retained versions of a versioned ``ParquetMergeTarget``."""
    return keyed_changes(
        target.read_version(from_version), target.read_version(to_version), on
    )
