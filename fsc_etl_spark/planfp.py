"""Normalized physical-plan fingerprints.

The repo asserts plan properties piecemeal (no-exchange bucketed join,
DPP expression, bounded global windows — tests/test_plan_quality.py).
This module generalizes that: a *fingerprint* of a query's physical
plan — the multiset of operator kinds, the exchange count, and the
join strategies — snapshotted per query in
``docs/plan_fingerprints.json`` and gated by
``tests/test_plan_fingerprints.py``. An accidental broadcast→shuffle
flip, a changed join strategy, or a new exchange the wall-clock band
would hide now fails a deterministic test instead of drifting
silently.

What is (deliberately) NOT in the fingerprint: anything volatile —
expression ids (``#123L``), plan ids, file paths, sizes/statistics,
codegen stage ids — and anything data-dependent. Fingerprints are
taken at the pinned gate fixture (sf0.001) on the engine's own
session config (session.get_spark — AQE on, 32 shuffle partitions),
so they are a DRIFT detector for code changes at fixed fixture +
config, not a statement about the sf0.1/cluster plan (broadcast
thresholds see different sizes there; the bench band and scale probes
cover that axis). With AQE on, an un-executed plan prints the
statically-planned tree under ``AdaptiveSparkPlan`` — deterministic
given fixture + config, which is exactly what a regression gate
needs. It is the plan before execution, so it never shows the
exchange reuse or the re-planned joins adaptive execution applies
while the query runs: the ``reused_exchanges`` count is 0 in every
snapshot, and the gate cannot see a lost ``ReusedExchange``.

Fingerprints are taken inside ``operators.cache.plan_only``, where a
builder that materialises its result through its cache scope returns
the lazy plan instead, so broadcast flips and extra exchanges in that
plan stay visible. Iterative builders (the graph family, psi) execute
jobs at build time and return a checkpoint whose visible plan is a
``Scan ExistingRDD``; their fingerprint covers the final readout stage
only, and the per-round plan shape for those is pinned by their
dedicated plan tests instead.

Both halves of the gate (scripts/gen_plan_fingerprints.py and
tests/test_plan_fingerprints.py) take their session config and
fixture dir from THIS module: ``GATE_SHUFFLE_PARTITIONS``
pins the one config axis the two previously disagreed on (generator
on session defaults = 32, gate on the conftest fixture's 8 — the
fingerprints happened to be partition-invariant, but a future
partition-sensitive plan feature would have produced confusing
drift), and :func:`gate_sf_dir` resolves the fixture root via
``SPARK_GRAFT_TESTDATA_ROOT`` the way scripts/preflight.py does
instead of hardcoding ``/root/testdata``.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import DataFrame

#: spark.sql.shuffle.partitions pinned for BOTH fingerprint halves
#: (matches session.DEFAULT_SHUFFLE_PARTITIONS — the generator's
#: historical config, so committed snapshots stay valid).
GATE_SHUFFLE_PARTITIONS = 32


def gate_sf_dir() -> str:
    """The pinned gate fixture (sf0.001 under the standard testdata
    root, overridable the same way preflight resolves it)."""
    root = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
    return os.path.join(root, "sf0.001")


#: Strip the explain tree-drawing prefix: spaces, ':', '+', '-', '*',
#: and the whole-stage-codegen marker '*(N) '.
_TREE_PREFIX = re.compile(r"^[\s:+\-]*(\*\(\d+\)\s*)?")
#: A node kind is the leading identifier run (letters only), e.g.
#: "Exchange", "BroadcastHashJoin", "HashAggregate", "Scan".
_NODE_KIND = re.compile(r"^([A-Za-z][A-Za-z0-9]*)")

#: Join operators whose strategy + join type we record verbatim.
_JOIN_KINDS = {
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
}

#: Join types as printed in the plan line (order matters: check
#: longer names first so "LeftSemi" wins over any substring).
_JOIN_TYPES = [
    "LeftSemi",
    "LeftAnti",
    "LeftOuter",
    "RightOuter",
    "FullOuter",
    "ExistenceJoin",
    "Cross",
    "Inner",
]


def _node_kind(line: str) -> str | None:
    body = _TREE_PREFIX.sub("", line)
    m = _NODE_KIND.match(body)
    if not m:
        return None
    kind = m.group(1)
    # "Scan parquet"/"Scan ExistingRDD"/"Scan json" — keep the source
    # kind, drop the path/schema tail.
    if kind == "Scan" or kind == "FileScan":
        rest = body[m.end() :].strip()
        src = rest.split(" ", 1)[0].split("[", 1)[0] or "unknown"
        return f"Scan:{src}"
    if kind == "Exchange":
        # hashpartitioning / rangepartitioning / SinglePartition /
        # RoundRobinPartitioning — the partitioning SCHEME is part of
        # the fingerprint; its keys/partition counts are not.
        rest = body[m.end() :].strip()
        scheme = re.match(r"([A-Za-z]+)", rest)
        return f"Exchange:{scheme.group(1) if scheme else 'unknown'}"
    return kind


def _join_token(line: str, kind: str) -> str:
    for jt in _JOIN_TYPES:
        if re.search(rf"\b{jt}\b", line):
            return f"{kind}:{jt}"
    return kind


def plan_fingerprint(df: DataFrame) -> dict:
    """Fingerprint of ``df``'s physical plan: sorted operator-kind
    counts, exchange count (shuffle exchanges; broadcast exchanges
    counted separately), reused-exchange count, and the sorted join
    strategy+type multiset."""
    # Private-API access, deliberately (ADVICE r12): the public
    # df.explain() only PRINTS, and EXPLAIN FORMATTED re-parses the
    # query text — queryExecution().executedPlan() is the same handle
    # both use underneath. Developed against PySpark 4.1; if a later
    # minor removes/renames the handle, fail with a pointer here
    # rather than an opaque Py4J error across all snapshots at once.
    try:
        tree = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    except AttributeError as exc:  # pragma: no cover - version drift
        import pyspark

        raise RuntimeError(
            "planfp: the private DataFrame._jdf.queryExecution()"
            ".executedPlan() handle is gone under PySpark "
            f"{pyspark.__version__} (gate developed on 4.1.x). Update "
            "fsc_etl_spark/planfp.plan_fingerprint to the new plan "
            "accessor and regenerate docs/plan_fingerprints.json."
        ) from exc
    ops: Counter[str] = Counter()
    joins: list[str] = []
    for line in tree.splitlines():
        if not line.strip():
            continue
        kind = _node_kind(line)
        if kind is None:
            continue
        ops[kind] += 1
        if kind in _JOIN_KINDS:
            joins.append(_join_token(line, kind))
    return {
        "ops": dict(sorted(ops.items())),
        "exchanges": sum(n for k, n in ops.items() if k.startswith("Exchange:")),
        "broadcasts": ops.get("BroadcastExchange", 0),
        "reused_exchanges": ops.get("ReusedExchange", 0),
        "joins": sorted(joins),
    }
