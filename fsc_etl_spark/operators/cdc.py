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
semantics.
"""

from __future__ import annotations

import datetime as dt

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

