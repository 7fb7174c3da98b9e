"""Dump ``explain("formatted")`` for named queries to plans/<tag>/.

Optimization-round evidence helper: captures the physical plan of each
named query (at sf0.001 — plan shape, not data scale) into
``plans/<tag>/<query>_<suffix>.txt`` so before/after plan diffs are
committed alongside the code they describe.

Run: python scripts/dump_plans.py <tag> <before|after> <query> [query ...]
     python scripts/dump_plans.py r13 before graph_label_propagation
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from fsc_etl_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> int:
    tag, suffix, *names = sys.argv[1:]
    if suffix not in ("before", "after"):
        raise SystemExit("suffix must be before|after")
    outdir = REPO_ROOT / "plans" / tag
    outdir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    queries = entrymod.queries()
    rc = 0
    from fsc_etl_spark.operators.cache import plan_only

    for name in names:
        try:
            # plan_only: queries whose cache scope materialises the
            # result return the LAZY readout plan instead of a one-line
            # ExistingRDD scan — operator-INTERNAL checkpoints still
            # truncate.
            with plan_only():
                df = queries[name](spark, SF)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (outdir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
            print(f"wrote {name}_{suffix}.txt ({len(buf.getvalue())} bytes)")
        except Exception as ex:  # noqa: BLE001
            print(f"ERR {name}: {str(ex)[:200]}")
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
