"""Min-of-3 floor table for the bench's 10 most expensive queries.

A single bench pass rides whatever the host is doing, so a per-query
claim uses this floor instead: each query runs once untimed (its own
codegen and file listing warm), then 3 timed runs, each from a clean
cache in the same session, through ``bench.run_query`` (the noop
sink). The per-query MIN is the floor.

Run (idle host): python scripts/floor_runs.py [name ...]
Defaults to the top-10 of the latest bench_full.json.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

RUNS = 3


def main() -> None:
    from bench import run_query
    from fsc_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        full = json.loads((REPO_ROOT / "bench_full.json").read_text())
        names = [
            k
            for k, _ in sorted(full["queries"].items(), key=lambda kv: -kv[1])[:10]
        ]
    spark = get_spark(app_name="floor_runs")
    rows: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        run_query(spark, name, sf_dir)  # warm-up, untimed
        walls = []
        for _ in range(RUNS):
            spark.catalog.clearCache()
            walls.append(round(run_query(spark, name, sf_dir), 2))
        rows[name] = {"runs": walls, "floor": min(walls)}
        print(f"{name}: runs={walls} floor={min(walls)}")
    out = {
        "sf_dir": sf_dir,
        "load1_end": round(os.getloadavg()[0], 1),
        "floors": rows,
    }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
