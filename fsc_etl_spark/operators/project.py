"""Projection operators (SURVEY.md §2.2 P1/P2/P8).

The reference projects immediately after each scan with per-column
aliases (``/root/reference/main.py:75-79``) — manual column pruning.
Catalyst does this automatically for declarative plans, but keeping an
explicit projection at scan time still matters for CSV text sources
(no footer-level pruning) and documents intent.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Early projection (P1)."""
    return df.select(*columns)


def select_alias(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Projection with aliases (P2): ``{source_col: alias}``.

    The reference uses this to disambiguate join keys up front
    (``iso_code`` → ``iso_code_vaccs`` etc., main.py:76-79)."""
    return df.select(*[F.col(src).alias(dst) for src, dst in mapping.items()])
