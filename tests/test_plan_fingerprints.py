"""Plan-regression fingerprint gate (VERDICT r11 #7; full-surface
coverage since r13 per VERDICT r12 #5).

Every queries() entry's physical-plan fingerprint (operator kinds +
exchange count + join strategies, normalized — see
fsc_etl_spark/planfp.py) must match the committed snapshot in
docs/plan_fingerprints.json. Catches the drift class the wall-clock
band hides in the statically planned (un-executed) plan: an
accidental broadcast→shuffle flip, a changed join strategy, an extra
exchange from a refactor. Exchange reuse is decided while an adaptive
query runs, so the gate cannot see a lost ReusedExchange.

Both halves of the gate share their config through planfp (ADVICE
r12): the test pins spark.sql.shuffle.partitions to
planfp.GATE_SHUFFLE_PARTITIONS for its duration (the conftest
fixture runs at 8) and resolves the fixture dir via
planfp.gate_sf_dir() instead of a hardcoded path.

When a plan change is INTENTIONAL: regenerate the snapshot with
``python scripts/gen_plan_fingerprints.py`` and let the JSON diff
document the change in review.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
SNAPSHOT = REPO_ROOT / "docs" / "plan_fingerprints.json"


def _all_query_names() -> list[str]:
    import sys

    sys.path.insert(0, str(REPO_ROOT))
    import __spark_entry__ as entrymod

    return list(entrymod.queries())


def test_snapshot_covers_the_full_query_surface():
    """A query added to (or dropped from) queries() without a snapshot
    regeneration fails here — the fingerprint file and the query
    surface move together (VERDICT r12 #5: previously only the 219
    benched queries were covered; now all of them are)."""
    snap = json.loads(SNAPSHOT.read_text())
    names = set(_all_query_names())
    assert set(snap) == names, (
        f"snapshot/queries() mismatch — regenerate: "
        f"missing={sorted(names - set(snap))} "
        f"extra={sorted(set(snap) - names)}"
    )


@pytest.mark.slow
def test_plan_fingerprints_match_snapshot(spark):
    """Rebuild every query's plan at the pinned sf0.001 gate fixture
    under the shared gate config and compare its normalized
    fingerprint to the committed snapshot. One shared session; plans
    are built (not executed) except for the documented eager builders
    (iterative graph family, streaming)."""
    import sys

    sys.path.insert(0, str(REPO_ROOT))
    import __spark_entry__ as entrymod
    from fsc_etl_spark import planfp
    from fsc_etl_spark.operators.cache import plan_only
    from fsc_etl_spark.planfp import plan_fingerprint

    snap = json.loads(SNAPSHOT.read_text())
    queries = entrymod.queries()
    sf_dir = planfp.gate_sf_dir()
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(planfp.GATE_SHUFFLE_PARTITIONS)
    )
    drift: list[str] = []
    try:
        with plan_only():
            for name in sorted(snap):
                spark.catalog.clearCache()
                got = plan_fingerprint(queries[name](spark, sf_dir))
                want = snap[name]
                if got != want:
                    diff_ops = {
                        k: (want["ops"].get(k, 0), got["ops"].get(k, 0))
                        for k in sorted(set(want["ops"]) | set(got["ops"]))
                        if want["ops"].get(k, 0) != got["ops"].get(k, 0)
                    }
                    drift.append(
                        f"{name}: ops(want,got)={diff_ops} "
                        f"joins {want['joins']} -> {got['joins']}"
                    )
    finally:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    if drift:
        pytest.fail(
            "physical-plan drift vs docs/plan_fingerprints.json "
            "(if intentional, regenerate with "
            "scripts/gen_plan_fingerprints.py):\n" + "\n".join(drift)
        )
