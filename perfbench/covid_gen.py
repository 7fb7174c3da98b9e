"""Seeded daily snapshots of the five COVID source CSVs.

Same columns and cell conventions as the fixture the pipeline tests use
(``tests/covid_fixtures.py``): ISO-3 keyed ``owid_covid_data``,
``vaccinations`` and long-format ``hospitalizations``; location keyed
``excess_mortality`` and ``full_data`` with two location-only rows the
owid mapping lacks; ~5% empty metric cells and ~1% ``N/A`` cells.

Snapshot 0 covers ``n_days`` days. Each later snapshot adds the next day
and corrects ~2% of the rows of the revision window, the
``REVISION_DAYS`` days before it (one metric cell each), so the lake
grows while each daily delta stays small. Like the real extract's
revisions, corrections land on recent days; spreading them over every
date would make each daily merge touch every date partition. The same arguments always give
byte-identical CSV files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

START = dt.date(2021, 1, 1)
EXTRA_LOCATIONS = ["Atlantis", "Wakanda"]
INDICATORS = [
    "Daily hospital occupancy",
    "Daily ICU occupancy",
    "Weekly new hospital admissions",
    "Weekly new ICU admissions",
]
SOURCES = ("owid_covid_data", "vaccinations", "hospitalizations", "excess_mortality", "full_data")
CORRECTED_FRAC = 0.02
REVISION_DAYS = 28


def _iso(i: int) -> str:
    a, r = divmod(i, 26 * 26)
    b, c = divmod(r, 26)
    return "".join(chr(ord("A") + x) for x in (a, b, c))


def _ints(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Integer cells as strings: ~5% empty, ~1% ``N/A``."""
    out = rng.integers(lo, hi + 1, n).astype(str).astype(object)
    roll = rng.random(n)
    out[roll < 0.06] = "N/A"
    out[roll < 0.05] = ""
    return out


def _decs(rng: np.random.Generator, lo: float, hi: float, nd: int, n: int) -> np.ndarray:
    """Decimal cells as strings with ``nd`` digits: ~5% empty. A value
    that rounds to zero is written unsigned, because "-0.00" reads as
    -0.0 in the DuckDB golden and as 0.0 in the pipeline."""
    out = np.char.mod(f"%.{nd}f", rng.uniform(lo, hi, n)).astype(object)
    out[out == f"-{0:.{nd}f}"] = f"{0:.{nd}f}"
    out[rng.random(n) < 0.05] = ""
    return out


class SnapshotGenerator:
    """All rows of every source for ``n_days + extra_days`` days, plus
    the cumulative corrections of each later snapshot."""

    def __init__(self, seed: int, n_locations: int, n_days: int, extra_days: int):
        self.rng = np.random.default_rng(seed)
        self.n_days = n_days
        self.extra_days = extra_days
        total = n_days + extra_days
        dates = np.array([(START + dt.timedelta(days=i)).isoformat() for i in range(total)], dtype=object)
        locs = [f"Location_{i:04d}" for i in range(n_locations)]
        isos = [_iso(i) for i in range(n_locations)]
        rng = self.rng
        self.tables: dict[str, pd.DataFrame] = {}

        n = n_locations * total
        day_idx = np.tile(np.arange(total), n_locations)
        pop = rng.integers(1_000_000, 90_000_000, n_locations).astype(str)
        a65 = rng.integers(5, 26, n_locations).astype(str)
        a70 = rng.integers(3, 19, n_locations).astype(str)
        self.tables["owid_covid_data"] = pd.DataFrame({
            "location": np.repeat(locs, total),
            "iso_code": np.repeat(isos, total),
            "date": dates[day_idx],
            "stringency_index": _decs(rng, 0, 100, 1, n),
            "population": np.repeat(pop, total),
            "aged_65_older": np.repeat(a65, total),
            "aged_70_older": np.repeat(a70, total),
            "new_tests": _ints(rng, 100, 90_000, n),
            "total_tests": _ints(rng, 1_000, 5_000_000, n),
        })

        vacc_isos = [iso for iso in isos if rng.random() >= 0.15]
        n = len(vacc_isos) * total
        self.tables["vaccinations"] = pd.DataFrame({
            "iso_code": np.repeat(vacc_isos, total),
            "date": dates[np.tile(np.arange(total), len(vacc_isos))],
            "total_vaccinations": _ints(rng, 0, 50_000_000, n),
            "daily_vaccinations": _ints(rng, 0, 800_000, n),
            "total_boosters": _ints(rng, 0, 10_000_000, n),
        })

        n = n_locations * total * len(INDICATORS)
        keep = rng.random(n) >= 0.10
        hosp = pd.DataFrame({
            "iso_code": np.repeat(isos, total * len(INDICATORS)),
            "date": dates[np.tile(np.repeat(np.arange(total), len(INDICATORS)), n_locations)],
            "indicator": np.tile(INDICATORS, n_locations * total),
            "value": _decs(rng, 0, 5000, 2, n),
        })
        self.tables["hospitalizations"] = hosp[keep].reset_index(drop=True)

        all_locs = locs + EXTRA_LOCATIONS
        n = len(all_locs) * total
        keep = rng.random(n) >= 0.30
        excess = pd.DataFrame({
            "location": np.repeat(all_locs, total),
            "date": dates[np.tile(np.arange(total), len(all_locs))],
            "excess_proj_all_ages": _decs(rng, -50, 300, 2, n),
        })
        self.tables["excess_mortality"] = excess[keep].reset_index(drop=True)

        self.tables["full_data"] = pd.DataFrame({
            "location": np.repeat(all_locs, total),
            "date": dates[np.tile(np.arange(total), len(all_locs))],
            "new_cases": _ints(rng, 0, 60_000, n),
            "new_deaths": _ints(rng, 0, 2_000, n),
            "total_cases": _ints(rng, 0, 5_000_000, n),
            "total_deaths": _ints(rng, 0, 150_000, n),
            "weekly_cases": _ints(rng, 0, 300_000, n),
            "weekly_deaths": _ints(rng, 0, 12_000, n),
        })
        self._day = {name: df["date"].map({d: i for i, d in enumerate(dates)}).to_numpy()
                     for name, df in self.tables.items()}
        self.snapshot = 0

    def last_date(self, snapshot: int) -> dt.date:
        """The newest data day of ``snapshot``."""
        return START + dt.timedelta(days=self.n_days + snapshot - 1)

    def _correct(self, snapshot: int) -> None:
        """Apply snapshot ``snapshot``'s corrections: ~2% of the rows in
        the revision window before its new day get one metric cell
        replaced."""
        rng = self.rng
        new_day = self.n_days + snapshot - 1
        for name, df in self.tables.items():
            day = self._day[name]
            earlier = np.flatnonzero((day < new_day) & (day >= new_day - REVISION_DAYS))
            rows = rng.choice(earlier, int(len(earlier) * CORRECTED_FRAC), replace=False)
            metrics = [c for c in df.columns if c not in ("location", "iso_code", "date", "indicator")]
            cols = rng.integers(0, len(metrics), len(rows))
            values = rng.integers(1, 10_000, len(rows)).astype(str)
            for j, col in enumerate(metrics):
                hit = rows[cols == j]
                df.loc[hit, col] = values[cols == j]

    def write(self, snapshot: int, out_dir: str) -> str:
        """Write snapshot ``snapshot`` (0 .. extra_days) as five CSVs
        under ``out_dir``. Snapshots must be written in order."""
        if snapshot != self.snapshot and snapshot != self.snapshot + 1:
            raise ValueError(f"snapshot {snapshot} after {self.snapshot}: write them in order")
        if snapshot > self.extra_days:
            raise ValueError(f"snapshot {snapshot} beyond the {self.extra_days} generated days")
        if snapshot == self.snapshot + 1:
            self._correct(snapshot)
            self.snapshot = snapshot
        os.makedirs(out_dir, exist_ok=True)
        for name in SOURCES:
            df = self.tables[name]
            df[self._day[name] < self.n_days + snapshot].to_csv(
                os.path.join(out_dir, f"{name}.csv"), index=False
            )
        return out_dir
