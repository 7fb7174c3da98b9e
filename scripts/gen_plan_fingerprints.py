"""Regenerate docs/plan_fingerprints.json (VERDICT r11 #7, extended
to the FULL queries() surface in r13 per VERDICT r12 #5).

One fingerprint per queries() entry — benched AND off-bench — taken
at the pinned sf0.001 gate fixture under the shared gate config
(planfp.GATE_SHUFFLE_PARTITIONS; ADVICE r12: the generator and the
gate test previously ran under different shuffle-partition settings).
One-shot eager builders expose their pre-checkpoint plan via
operators.cache.plan_only(); iterative builders (graph family,
streaming) still fingerprint their checkpointed readout and are
additionally pinned by dedicated plan tests.
tests/test_plan_fingerprints.py fails on any drift from this
snapshot; when a plan change is INTENTIONAL, re-run this script and
let the JSON diff document the change in review.

Run: python scripts/gen_plan_fingerprints.py   (~3-6 min)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

OUT = REPO_ROOT / "docs" / "plan_fingerprints.json"


def main() -> None:
    import __spark_entry__ as entrymod
    from fsc_etl_spark import planfp
    from fsc_etl_spark.operators.cache import plan_only
    from fsc_etl_spark.planfp import plan_fingerprint
    from fsc_etl_spark.session import get_spark

    spark = get_spark(
        app_name="plan_fingerprints",
        shuffle_partitions=planfp.GATE_SHUFFLE_PARTITIONS,
    )
    sf_dir = planfp.gate_sf_dir()
    queries = entrymod.queries()
    fps: dict[str, dict] = {}
    t0 = time.time()
    with plan_only():
        for i, name in enumerate(sorted(queries), 1):
            spark.catalog.clearCache()
            fps[name] = plan_fingerprint(queries[name](spark, sf_dir))
            if i % 25 == 0:
                print(f"[planfp] {i}/{len(queries)} ({time.time() - t0:.0f}s)")
    spark.catalog.clearCache()
    OUT.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    print(f"wrote {OUT} ({len(fps)} fingerprints, {time.time() - t0:.0f}s)")


if __name__ == "__main__":
    main()
