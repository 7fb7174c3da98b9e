"""Spans, py4j call counts and Spark event-log reduction.

Everything here observes the engine from outside: spans are opened by
the benchmark around its calls into the engine, py4j round trips are
counted by wrapping the gateway client's ``send_command``, and Spark's
own work comes from the event log the session writes when tracing is
on. Spans stay in memory until :meth:`Tracer.dump`.

Span tree: ``workload`` → ``query`` / ``step`` → ``build`` / ``exec``
(queries) or ``merge`` (merge-target calls inside ETL steps) →
``job`` (one per Spark job, from the event log).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import defaultdict

# A node of a SQL plan is on the Python/Arrow boundary when it carries
# this metric; its "number of output rows" counts rows returned from
# the Python workers.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Py4jCounter:
    """Counts driver → JVM round trips by wrapping ``send_command`` on
    the session's gateway client instance."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        inner = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return inner(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        # The wrapper is an instance attribute; deleting it uncovers
        # the class method again.
        with contextlib.suppress(AttributeError):
            del self._client.send_command


class Tracer:
    """In-memory spans sharing one run id."""

    def __init__(self, workload: str):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.root = self.open(workload, "workload", None)

    def open(self, name: str, kind: str, parent: dict | None, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": None if parent is None else parent["id"],
            "run_id": self.run_id,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        return span

    @staticmethod
    def close(span: dict, end: float | None = None, **attrs) -> dict:
        span["end"] = time.time() if end is None else end
        span.update(attrs)
        return span

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application that logged into ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _python_accumulators(events: list[dict]) -> tuple[set[int], set[int]]:
    """Accumulator ids of (rows returned, bytes sent or returned) on
    every Python/Arrow plan node of every SQL execution."""
    rows, nbytes = set(), set()

    def walk(node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if PY_SENT in metrics:
            nbytes.update((metrics[PY_SENT], metrics.get(PY_RETURNED, metrics[PY_SENT])))
            if "number of output rows" in metrics:
                rows.add(metrics["number of output rows"])
        for child in node.get("children", []):
            walk(child)

    for ev in events:
        if "sparkPlanInfo" in ev:
            walk(ev["sparkPlanInfo"])
    return rows, nbytes


JOB_SUMS = (
    "tasks", "stages", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_records", "spill_bytes", "scan_bytes",
    "scan_rows", "python_rows", "python_bytes",
)


def job_records(events: list[dict]) -> list[dict]:
    """One record per finished Spark job: group, start/end (seconds
    since the epoch) and the summed metrics of every task it ran."""
    py_rows, py_bytes = _python_accumulators(events)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job_id": jid,
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                **dict.fromkeys(JOB_SUMS, 0.0),
            }
            # A stage listed by several jobs runs in the first one;
            # later jobs skip it.
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            job["tasks"] += 1
            job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            job["scan_bytes"] += inp.get("Bytes Read", 0)
            job["scan_rows"] += inp.get("Records Read", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc["ID"] in py_rows:
                    job["python_rows"] += float(acc.get("Update") or 0)
                if acc["ID"] in py_bytes:
                    job["python_bytes"] += float(acc.get("Update") or 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Slack for matching millisecond event-log times against span times.
_SLACK_S = 0.005


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Add one ``job`` span per Spark job under the innermost span of
    the same job group whose interval contains the job's submission.
    Jobs of no traced group (checks, warm-up) are left out."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s.get("group"):
            by_group[s["group"]].append(s)
    for job in jobs:
        holders = [
            s for s in by_group.get(job["group"], ())
            if s["start"] - _SLACK_S <= job["start"] <= s["end"] + _SLACK_S
        ]
        if not holders:
            continue
        parent = max(holders, key=lambda s: s["start"])
        span = tracer.open(f"job {job['job_id']}", "job", parent, group=job["group"])
        span["start"] = job["start"]
        tracer.close(span, end=job["end"], **{k: job[k] for k in JOB_SUMS})


_RENAMES = {
    "tasks": "spark.tasks", "stages": "spark.stages", "task_run_s": "spark.task_run_s",
    "task_cpu_s": "spark.task_cpu_s", "gc_s": "spark.gc_s",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "shuffle_records": "spark.shuffle_records", "spill_bytes": "spark.spill_bytes",
    "scan_bytes": "sources.scan_bytes", "scan_rows": "sources.scan_rows",
    "python_rows": "functions.python_rows", "python_bytes": "functions.python_bytes",
}


def layer_metrics(tracer: Tracer, cores: int, passes: int) -> dict[str, float]:
    """Per-layer metrics per pass, from the spans of a traced run.

    A unit is one query or one ETL step. A query's wall time is its
    build span plus its exec span; ``plans.eager_s`` is the part of the
    build during which a Spark job ran. An ETL step has no build/exec
    split of its own: the part with a job running counts as
    ``spark.exec_s`` and the rest as driver-side ``plans.build_s``.
    ``spark.core_busy_frac`` is task run time over cores × the time at
    least one job was running.
    """
    children: dict[int, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def jobs_under(span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            for c in children[todo.pop()["id"]]:
                (out if c["kind"] == "job" else todo).append(c)
        return out

    m: dict[str, float] = defaultdict(float)
    busy: list[tuple[float, float]] = []
    for unit in (s for s in tracer.spans if s["kind"] in ("query", "step")):
        m["plans.py4j_calls"] += unit.get("py4j_calls", 0)
        m["operators.rdds_left_persisted"] += unit.get("rdds_left_persisted", 0)
        jobs = jobs_under(unit)
        for j in jobs:
            for k in JOB_SUMS:
                m[k] += j[k]
        intervals = [(j["start"], j["end"]) for j in jobs]
        busy.extend(intervals)
        m["spark.jobs"] += len(jobs)
        phases = {c["kind"]: c for c in children[unit["id"]] if c["kind"] in ("build", "exec")}
        if phases:
            build, run = phases["build"], phases["exec"]
            eager = jobs_under(build)
            m["plans.build_s"] += build["end"] - build["start"]
            m["plans.eager_s"] += _union_s([(j["start"], j["end"]) for j in eager])
            m["plans.eager_jobs"] += len(eager)
            m["spark.exec_s"] += run["end"] - run["start"]
        else:
            covered = _union_s([(max(s, unit["start"]), min(e, unit["end"])) for s, e in intervals])
            m["spark.exec_s"] += covered
            m["plans.build_s"] += unit["end"] - unit["start"] - covered
            m[f"covid.{unit['call']}_s"] += unit["end"] - unit["start"]
    for s in tracer.spans:
        if s["kind"] == "merge":
            m["operators.merge_calls"] += 1
            m["operators.merge_s"] += s["end"] - s["start"]
            m["operators.bytes_written"] += s.get("bytes_written", 0)
            m["operators.files_written"] += s.get("files_written", 0)
    m["plans.pure_build_s"] = m["plans.build_s"] - m["plans.eager_s"]
    job_wall = _union_s(busy)
    out = {_RENAMES.get(k, k): v / passes for k, v in m.items()}
    out["spark.core_busy_frac"] = m["task_run_s"] / (job_wall * cores) if job_wall else 0.0
    return out
