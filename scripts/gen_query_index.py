"""Regenerate docs/QUERIES.md — the full query-surface index — from
the driver contract (__spark_entry__.queries()) and bench.OFF_BENCH.

Run after adding, reordering or un-benching queries:
python scripts/gen_query_index.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
from bench import OFF_BENCH

HEADER = """# Query surface index

Auto-generated from `__spark_entry__.queries()` and `bench.OFF_BENCH`
(`python scripts/gen_query_index.py`). Position = driver sample order
(the driver oracle-checks the first 50). Every query has a DuckDB
value-hash oracle. "bench" = `yes` when `bench.py` times the query,
else the reason it is off the bench.

| # | query | module | bench |
|---|---|---|---|
"""


def main() -> None:
    rows = []
    for i, (name, fn) in enumerate(entrymod.queries().items()):
        mod = fn.__module__.replace("fsc_etl_spark.plans.", "")
        bench = OFF_BENCH.get(name, "yes").replace("|", "\\|")
        rows.append(f"| {i} | `{name}` | {mod} | {bench} |")
    out = ROOT / "docs" / "QUERIES.md"
    out.write_text(HEADER + "\n".join(rows) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
