"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run is one process with one JVM,
whose Spark sessions run on ``local[$(nproc)]``; it writes only under ``.perfbench/``
in the repository root; spans of traced runs are kept under
``.perfbench/traces/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones of traced passes (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench"

# Scale of the generated star schema the query workload reads.
QUERY_SF = 0.001
SETUP_REPEATS = 5

END_TO_END = {"setup_s": "s", "total_s": "s", "step_p50_s": "s"}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.pure_build_s": "s", "plans.py4j_calls": "count",
    "plans.eager_jobs": "count", "plans.eager_s": "s",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_records": "count", "spark.spill_bytes": "bytes", "spark.core_busy_frac": "ratio",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "functions.python_rows": "count", "functions.python_bytes": "bytes",
    "operators.rdds_left_persisted": "count",
    "operators.merge_calls": "count", "operators.merge_s": "s",
    "operators.bytes_written": "bytes", "operators.files_written": "count",
    "covid.run_full_s": "s", "covid.run_incremental_s": "s", "covid.load_enterprise_s": "s",
    "covid.write_amp": "ratio", "covid.space_amp": "ratio",
    "trace.overhead_frac": "ratio",
}
WORKLOADS = ("covid_etl", "graph_iterative")


def _isolate(work: Path) -> None:
    """Point every temp and scratch location of Python, the JVM and the
    engine inside ``work``, before anything imports the engine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Oracle training and plan fingerprints must never read a fixture
    # outside the checkout.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(work / "no-fixture")
    os.environ["SPARK_GRAFT_TESTDATA_ROOT"] = str(work / "data")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = str(tmp)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss bytes) of every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(table: dict[int, tuple[int, int]] | None = None) -> set[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and its Python workers) every ``interval``."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            table = _proc_table()
            pids = descendants(table) | {os.getpid()}
            self.peak = max(self.peak, sum(table[p][1] for p in pids if p in table))
            self._stop.wait(interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def start_session(work: Path, extra: dict[str, str] | None = None):
    from fsc_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        **(extra or {}),
    }
    return get_spark(app_name="perfbench", extra_conf=conf)


def warm_up(spark, data_dir: str) -> None:
    import __spark_entry__ as entry

    entry.queries()["q1_pricing_summary"](spark, data_dir).collect()


def setup(work: Path, data_dir: str) -> tuple[object, list[float]]:
    """Start a session and run the warm-up query ``SETUP_REPEATS``
    times (the first also starts the JVM); returns the last session."""
    times = []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        warm_up(spark, data_dir)
        times.append(time.perf_counter() - t0)
    return spark, times


def traced_session(work: Path, data_dir: str, log_dir: Path):
    log_dir.mkdir(parents=True, exist_ok=True)
    spark = start_session(work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    })
    warm_up(spark, data_dir)
    return spark


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every descendant process has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _member_floors(samples) -> list[float]:
    """Each member query's fastest wall time over the passes."""
    by_name: dict[str, list[float]] = {}
    for s in samples:
        by_name.setdefault(s.name, []).append(s.wall_s)
    return [min(v) for v in by_name.values()]


def _untraced_file(workload: str) -> Path:
    return WORK_ROOT / "untraced" / f"{workload}.txt"


def record_untraced(workload: str, total_s: float) -> None:
    """Keep the ``total_s`` of a correct untraced run for the traced
    runs of the same checkout to compare against."""
    path = _untraced_file(workload)
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "a") as f:
        f.write(f"{total_s!r}\n")


def untraced_totals(workload: str) -> list[float]:
    path = _untraced_file(workload)
    return [float(x) for x in path.read_text().split()] if path.is_file() else []


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    import datagen
    import workloads as wl
    from tracing import Tracer, attach_jobs, job_records, layer_metrics, read_event_log

    cores = os.cpu_count() or 1
    data_dir = datagen.write(str(work / "data" / f"sf{QUERY_SF}"), QUERY_SF)
    is_etl = workload == "covid_etl"
    passes = (wl.passes_for(seconds, wl.CYCLE_S, 1) if is_etl
              else wl.passes_for(seconds, wl.PASS_S, wl.MIN_PASSES))

    def timed(spark, tracer, tag):
        if is_etl:
            return wl.run_covid(spark, str(work / tag), seed, passes, tracer, wl.ETL_SIZE)
        return wl.run_queries(spark, wl.GRAPH_ITERATIVE, data_dir, seed, passes, tracer)

    def totals(result) -> tuple[float, float]:
        """(total_s, step_p50_s) of one set of timed passes."""
        if is_etl:
            return _median(result.cycle_s), _median(result.day_s)
        floors = _member_floors(result)
        return sum(floors), _median(floors)

    rss = PeakRss()
    spark = tracer = reference = None
    sets = []
    try:
        spark, setups = setup(work, data_dir)
        if trace:
            # The traced passes take the place the timed passes have in
            # an untraced run: after set-up, in a JVM no pass has warmed.
            spark.stop()
            spark = traced_session(work, data_dir, work / "eventlog")
            tracer = Tracer(workload)
            sets.append(timed(spark, tracer, "traced"))
            tracer.close(tracer.root)
            reference = untraced_totals(workload)
            if not reference:
                # No untraced run of this checkout to compare with: make
                # the untraced passes here, in a JVM the traced ones warmed.
                spark.stop()
                spark = start_session(work)
                again = timed(spark, None, "again")
                sets.append(again)
                reference = [totals(again)[0]]
        else:
            sets.append(timed(spark, None, "plain"))
        peak_mb = rss.stop()
        if not is_etl:
            failures = wl.check_queries(data_dir, [s for samples in sets for s in samples])
    finally:
        rss.stop()
        shutdown(spark)

    first = sets[0]
    total, step = totals(first)
    if is_etl:
        failures = [f for r in sets for f in r.failures]
        attempted = sum(len(r.samples) + 2 for r in sets)  # steps + the two checks
        summary = {"etl_full_s": _median(first.full_s), "etl_day_p50_s": step,
                   "space_amp": first.space_amp}
    else:
        attempted = sum(len(r) for r in sets)
        summary = {"query_p50_s": step}
    end_to_end = {"setup_s": _median(setups), "total_s": total, "step_p50_s": step}
    summary.update(end_to_end, peak_rss_mb=peak_mb)
    summary["failed_frac"] = len(failures) / attempted
    if trace:
        attach_jobs(tracer, job_records(read_event_log(str(work / "eventlog"))))
        layers = layer_metrics(tracer, cores, passes)
        layers["peak_rss_mb"] = peak_mb
        layers["trace.overhead_frac"] = total / _median(reference) - 1
        if is_etl:
            layers["covid.write_amp"] = first.write_amp
            layers["covid.space_amp"] = first.space_amp
            summary["write_amp"] = first.write_amp
        tracer.dump(str(WORK_ROOT / "traces" / f"{workload}-seed{seed}.json"))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        if not failures:
            record_untraced(workload, total)
        metrics = {k: {"value": float(end_to_end[k]), "unit": u} for k, u in END_TO_END.items()}
    for f in failures:
        print(f"FAILED {f}", flush=True)
    print(f"{workload} seed={seed} passes={passes} " + json.dumps(summary), flush=True)
    return {"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "fsc_etl_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    run_dir = WORK_ROOT / f"run-{os.getpid()}"
    _isolate(run_dir)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
