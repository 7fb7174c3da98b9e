"""The benchmark's workloads: member lists, timed passes and checks.

A query workload runs its members in a closed loop with one client:
each query is built (``queries()[name](spark, data_dir)``) and its
result collected before the next one starts, with
``spark.catalog.clearCache()`` between queries. ``covid_etl`` runs the
daily pipeline of ``plans.covid.CovidPipeline`` on seeded CSV
snapshots. Correctness is checked after the timed passes, against the
DuckDB oracles and the pipeline's DuckDB golden.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

from tracing import Py4jCounter, Tracer

# The query workload's members. The seed permutes their order; the
# data is fixed.
GRAPH_ITERATIVE = [
    # An eager iterative builder: one Spark job per round while the
    # plan is built, on a co-purchase graph the pair-expansion kernel
    # makes.
    "graph_label_propagation",
    # The Python/Arrow boundary: a pandas UDF.
    "embed_cosine_topk_pandas",
]
# Wall time of one warm pass over GRAPH_ITERATIVE and of one ETL cycle
# on a 4-core host (medians of ten runs each: 4.6 s and 38.8 s). They
# fix how many passes a run of a given length makes, so that every run
# with the same --seconds does the same work and leaves the JVM equally
# warm.
PASS_S = 5.0
CYCLE_S = 40.0
# At least three passes, so that a query's fastest pass is never the
# first one, which runs in a JVM no pass has warmed.
MIN_PASSES = 3


def passes_for(seconds: float, unit_s: float, minimum: int) -> int:
    return max(minimum, round(seconds / unit_s))


@dataclass(frozen=True)
class EtlSize:
    locations: int = 50
    days: int = 60
    simulated_days: int = 1


ETL_SIZE = EtlSize()


@dataclass
class Sample:
    """One unit: a query execution or an ETL step."""
    name: str
    wall_s: float
    build_s: float = 0.0
    exec_s: float = 0.0
    pass_no: int = 0
    error: str | None = None
    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)


def _failure(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip().splitlines()[0][:300]


class _Collected:
    """A collected result shaped like the DataFrame the oracle
    comparison reads (``columns`` and ``collect()``)."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


class Phases:
    """Optional tracing around each unit: job groups, spans, py4j
    counts and the persisted-RDD count before ``clearCache``."""

    def __init__(self, spark, tracer: Tracer | None):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.py4j = Py4jCounter(spark) if tracer else None

    def group(self, name: str) -> None:
        if self.tracer:
            self.sc.setJobGroup(name, name)

    def close(self) -> None:
        if self.py4j:
            self.py4j.close()


def query_pass(spark, data_dir: str, fns: dict, order: list[str], pass_no: int,
               phases: Phases, parent: dict | None) -> list[Sample]:
    """One closed-loop pass over ``order``; a failing query is recorded
    by name and the pass continues."""
    out = []
    tracer = phases.tracer
    for name in order:
        calls0 = phases.py4j.calls if phases.py4j else 0
        phases.group(f"{name}:build")
        t0 = time.time()
        t1 = None
        sample = Sample(name, 0.0, pass_no=pass_no)
        try:
            df = fns[name](spark, data_dir)
            t1 = time.time()
            phases.group(f"{name}:exec")
            rows = df.collect()
            t2 = time.time()
            sample.columns, sample.rows = list(df.columns), [tuple(r) for r in rows]
        except Exception as exc:  # a failing member must not stop the run
            sample.error = _failure(exc)
            t2 = time.time()
            t1 = t1 or t2
        sample.build_s, sample.exec_s, sample.wall_s = t1 - t0, t2 - t1, t2 - t0
        if tracer:
            unit = tracer.open(name, "query", parent, pass_no=pass_no)
            unit["start"] = t0
            b = tracer.open("build", "build", unit, group=f"{name}:build")
            b["start"] = t0
            tracer.close(b, end=t1)
            e = tracer.open("exec", "exec", unit, group=f"{name}:exec")
            e["start"] = t1
            tracer.close(e, end=t2)
            tracer.close(
                unit, end=t2,
                py4j_calls=phases.py4j.calls - calls0,
                rdds_left_persisted=len(spark.sparkContext._jsc.getPersistentRDDs()),
            )
        spark.catalog.clearCache()
        out.append(sample)
    return out


def run_queries(spark, members: list[str], data_dir: str, seed: int, passes: int,
                tracer: Tracer | None) -> list[Sample]:
    """``passes`` timed passes over ``members`` in a seeded order."""
    import __spark_entry__ as entry

    fns = entry.queries()
    order = list(members)
    random.Random(seed).shuffle(order)
    phases = Phases(spark, tracer)
    samples = []
    try:
        for p in range(passes):
            samples += query_pass(spark, data_dir, fns, order, p, phases,
                                  tracer.root if tracer else None)
    finally:
        phases.close()
    return samples


def check_queries(data_dir: str, samples: list[Sample]) -> list[str]:
    """Compare every collected result with the query's DuckDB oracle.
    Returns one failure line per failed sample."""
    import __spark_entry__ as entry
    from fsc_etl_spark.plans.oracles_training import SF_ORACLE_GENERATORS
    from fsc_etl_spark.testing import compare_with_oracle, duckdb_connection

    static = entry.oracle_sql()
    failures = []
    con = duckdb_connection(data_dir)
    try:
        sql_of: dict[str, str | None] = {}
        for s in samples:
            if s.error:
                failures.append(f"{s.name}: {s.error}")
                continue
            if s.name not in sql_of:
                gen = SF_ORACLE_GENERATORS.get(s.name)
                sql_of[s.name] = gen(data_dir) if gen else static.get(s.name)
            if sql_of[s.name] is None:
                failures.append(f"{s.name}: no oracle")
                continue
            try:
                compare_with_oracle(_Collected(s.columns, s.rows), con, sql_of[s.name], name=s.name)
            except AssertionError as exc:
                failures.append(_failure(exc))
    finally:
        con.close()
    return failures


# ---------------------------------------------------------------- covid_etl


def _golden():
    """The DuckDB golden of tests/test_covid_pipeline.py."""
    tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import test_covid_pipeline

    return test_covid_pipeline


def _tree_files(root: str) -> dict[tuple[int, int], int]:
    """(inode, mtime) → size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def tree_bytes(root: str) -> int:
    return sum(_tree_files(root).values())


MERGE_METHODS = ("merge", "overwrite", "append", "update_flag", "delete_all")


def _trace_target(target, label: str, tracer: Tracer, current: dict) -> None:
    """Wrap the merge target's public methods in ``merge`` spans that
    record the bytes and files each call leaves written under the
    target's root; ``current["bytes_written"]`` keeps the running
    total."""
    for method in MERGE_METHODS:
        inner = getattr(target, method)

        def traced(*args, _inner=inner, _method=method, **kwargs):
            before = _tree_files(target.root)
            step = current["step"]
            span = tracer.open(f"{label}.{_method}", "merge", step, group=step["group"])
            try:
                return _inner(*args, **kwargs)
            finally:
                tracer.close(span)
                written = {k: v for k, v in _tree_files(target.root).items() if k not in before}
                span.update(bytes_written=sum(written.values()), files_written=len(written))
                current["bytes_written"] += span["bytes_written"]

        setattr(target, method, traced)


@dataclass
class EtlResult:
    samples: list[Sample]
    cycle_s: list[float]
    day_s: list[float]
    full_s: list[float]
    failures: list[str]
    write_amp: float
    space_amp: float


def run_covid(spark, work: str, seed: int, cycles: int, tracer: Tracer | None,
              size: EtlSize) -> EtlResult:
    """``cycles`` times, on a fresh lake: full refresh + enterprise
    load, then ``size.simulated_days`` days of incremental CDC +
    enterprise upsert. Checks run between and after the timed steps."""
    from covid_gen import SnapshotGenerator
    from fsc_etl_spark.plans.covid import CovidPipeline

    golden = _golden()
    gen = SnapshotGenerator(seed, size.locations, size.days, size.simulated_days)
    raw = [gen.write(s, os.path.join(work, "raw", f"s{s}")) for s in range(size.simulated_days + 1)]
    phases = Phases(spark, tracer)
    samples, cycle_s, day_s, full_s, failures = [], [], [], [], []
    try:
        for c in range(cycles):
            lake = os.path.join(work, f"lake{c}")
            pipe = CovidPipeline(spark, os.path.join(lake, "curated"), os.path.join(lake, "enterprise"))
            current: dict = {"step": None, "bytes_written": 0}
            if tracer:
                _trace_target(pipe.curated, "curated", tracer, current)
                _trace_target(pipe.enterprise, "enterprise", tracer, current)

            def run_date(s: int) -> dt.date:
                return gen.last_date(s) + dt.timedelta(days=1)

            def ts(s: int) -> dt.datetime:
                return golden.RUN_TS + dt.timedelta(days=s)

            steps = [
                (0, "run_full", lambda: pipe.run_full(raw[0], run_ts=ts(0))),
                (0, "load_enterprise", lambda: pipe.load_enterprise(True, run_date(0))),
            ]
            for d in range(1, size.simulated_days + 1):
                steps += [
                    (d, "run_incremental",
                     lambda d=d: pipe.run_incremental(raw[d], raw[d - 1], run_date(d), run_ts=ts(d))),
                    (d, "load_enterprise", lambda d=d: pipe.load_enterprise(False, run_date(d))),
                ]
            by_day: dict[int, float] = {}
            for day, call, fn in steps:
                name = f"day{day}:{call}"
                calls0 = phases.py4j.calls if phases.py4j else 0
                phases.group(name)
                sample = Sample(name, 0.0, pass_no=c)
                if tracer:
                    current["step"] = tracer.open(name, "step", tracer.root, call=call, group=name, pass_no=c)
                t0 = time.time()
                try:
                    fn()
                except Exception as exc:  # a failing step is reported and the cycle stops
                    sample.error = _failure(exc)
                sample.wall_s = time.time() - t0
                if tracer:
                    tracer.close(
                        current["step"], end=t0 + sample.wall_s,
                        py4j_calls=phases.py4j.calls - calls0,
                        rdds_left_persisted=len(spark.sparkContext._jsc.getPersistentRDDs()),
                    )
                spark.catalog.clearCache()
                samples.append(sample)
                by_day[day] = by_day.get(day, 0.0) + sample.wall_s
                if sample.error:
                    failures.append(f"{name}: {sample.error}")
                    break
                if c == 0 and call == "run_full":
                    failures += _check_full(pipe, raw[0], golden)
            cycle_s.append(sum(by_day.values()))
            full_s.append(by_day.get(0, 0.0))
            day_s += [v for k, v in by_day.items() if k > 0]
            written = current["bytes_written"]
        if not failures:
            failures += _check_final(pipe, raw[-1], golden)
        ent_bytes = tree_bytes(pipe.enterprise.root)
        raw_bytes = tree_bytes(raw[-1])
        lake_bytes = tree_bytes(pipe.curated.root) + ent_bytes
    finally:
        phases.close()
    return EtlResult(
        samples, cycle_s, day_s, full_s, failures,
        write_amp=written / ent_bytes if ent_bytes else 0.0,
        space_amp=lake_bytes / raw_bytes if raw_bytes else 0.0,
    )


def _compare(df, sql: str, raw_dir: str, name: str, golden) -> list[str]:
    import duckdb
    from fsc_etl_spark.testing import compare_with_oracle

    con = duckdb.connect()
    try:
        golden._csv_views(con, raw_dir)
        compare_with_oracle(df, con, sql, name=name)
    except AssertionError as exc:
        return [_failure(exc)]
    finally:
        con.close()
    return []


def _check_full(pipe, raw_dir: str, golden) -> list[str]:
    """The full refresh equals the DuckDB golden, cell for cell."""
    return _compare(pipe.curated.read(), golden.GOLDEN_SQL, raw_dir, "covid_full_refresh", golden)


IGNORED_COLS = ("_SK_METRICS_FACT", "_TF_LAST_UPDATE", "Is_updated", "Year", "Month")
# Two known defects of the incremental path, kept out of the final
# comparison until they are fixed (README.md, "Known defects"):
# 1. a hospitalizations correction pivots only the changed long rows
#    (CovidPipeline._update_frames), so the update nulls the sibling
#    indicator columns of that (CodeISO, Date);
# 2. update frames skip the null → 0 fill of the full refresh, so a
#    corrected row's empty cells land as NULL instead of 0.
HOSP_COLS = (
    "Daily_hospital_occupancy", "Daily_icu_occupancy",
    "Weekly_new_hospital_admissions", "Weekly_new_icu_admissions",
)


def _check_final(pipe, raw_dir: str, golden) -> list[str]:
    """After the last day the enterprise table equals a full refresh of
    the last snapshot on every column but the keys, the audit columns
    and ``HOSP_COLS``, with NULL metrics read as 0, and stays unique on
    (CodeISO, Date)."""
    from fsc_etl_spark.plans.covid import METRIC_COLS
    from pyspark.sql import functions as F

    ent = pipe.enterprise.read()
    failures = []
    n, distinct = ent.count(), ent.select("CodeISO", "Date").distinct().count()
    if n != distinct:
        failures.append(f"covid_enterprise_grain: {n} rows, {distinct} distinct (CodeISO, Date)")
    skip = IGNORED_COLS + HOSP_COLS
    sql = f"SELECT * EXCLUDE ({', '.join(skip)}) FROM ({golden.GOLDEN_SQL})"
    keep = [
        F.coalesce(F.col(c), F.lit(0)).alias(c) if c in METRIC_COLS else F.col(c)
        for c in ent.columns if c not in skip
    ]
    return failures + _compare(ent.select(*keep), sql, raw_dir, "covid_enterprise_final", golden)
