"""Self-tests of the benchmark: seeded generators and a tiny traced run.

    python3 -m pytest perfbench -q

The three run tests each make a short run (about three minutes
together on 4 cores) at sf0.001 with a tiny ETL size.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import covid_gen  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402


def _snapshot(tmp_path, name: str, seed: int, snapshot: int = 1) -> str:
    gen = covid_gen.SnapshotGenerator(seed, n_locations=5, n_days=12, extra_days=snapshot)
    out = ""
    for s in range(snapshot + 1):
        out = gen.write(s, str(tmp_path / name / f"s{s}"))
    return out


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_covid_snapshots_repeat_per_seed(tmp_path):
    a = _snapshot(tmp_path, "a", seed=7)
    b = _snapshot(tmp_path, "b", seed=7)
    c = _snapshot(tmp_path, "c", seed=8)
    assert sorted(os.listdir(a)) == [f"{s}.csv" for s in sorted(covid_gen.SOURCES)]
    assert _same_files(a, b)
    assert not _same_files(a, c)


def test_covid_snapshot_adds_one_day_and_corrects_rows(tmp_path):
    gen = covid_gen.SnapshotGenerator(3, n_locations=20, n_days=40, extra_days=1)
    s0 = gen.write(0, str(tmp_path / "s0"))
    s1 = gen.write(1, str(tmp_path / "s1"))
    with open(os.path.join(s0, "owid_covid_data.csv")) as f:
        old = f.read().splitlines()[1:]
    with open(os.path.join(s1, "owid_covid_data.csv")) as f:
        new = f.read().splitlines()[1:]
    assert len(new) == len(old) + 20  # one more day per location
    changed = len(set(old) - set(new))
    assert 0 < changed < 0.05 * len(old)


def test_covid_snapshot_writes_no_signed_zero(tmp_path):
    # Seed 4002 draws an excess-mortality value in (-0.005, 0).
    gen = covid_gen.SnapshotGenerator(4002, n_locations=50, n_days=60, extra_days=0)
    with open(os.path.join(gen.write(0, str(tmp_path)), "excess_mortality.csv")) as f:
        cells = {c for line in f for c in line.rstrip("\n").split(",")}
    assert "0.00" in cells and "-0.00" not in cells


def test_star_schema_repeats_per_seed(tmp_path):
    a = datagen.write(str(tmp_path / "a"), 0.001, seed=5)
    b = datagen.write(str(tmp_path / "b"), 0.001, seed=5)
    c = datagen.write(str(tmp_path / "c"), 0.001, seed=6)
    assert _same_files(a, b)
    assert not _same_files(a, c)


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny workloads whose traced runs touch every layer."""
    monkeypatch.setattr(run, "WORK_ROOT", tmp_path)
    monkeypatch.setattr(wl, "ETL_SIZE", wl.EtlSize(locations=4, days=10, simulated_days=1))
    monkeypatch.setattr(wl, "GRAPH_ITERATIVE",
                        ["q6_revenue_forecast", "embed_cosine_topk_pandas", "graph_label_propagation"])
    monkeypatch.setattr(wl, "MIN_PASSES", 1)
    monkeypatch.setattr(run, "SETUP_REPEATS", 2)
    return tmp_path


def _result(capsys) -> dict:
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-1])


def _spans(root, workload: str) -> list[dict]:
    (name,) = [n for n in os.listdir(root / "traces") if n.startswith(workload)]
    with open(root / "traces" / name) as f:
        return json.load(f)["spans"]


def test_end_to_end_metrics_have_units(tiny, capsys):
    assert run.main(["--workload", "graph_iterative", "--seed", "1", "--seconds", "1"]) == 0
    res = _result(capsys)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 3
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def _reconciles(spans: list[dict]) -> None:
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    for q in (s for s in spans if s["kind"] == "query"):
        phases = {c["kind"]: c for c in by_parent[q["id"]]}
        build, run_ = phases["build"], phases["exec"]
        wall = q["end"] - q["start"]
        assert build["end"] - build["start"] + run_["end"] - run_["start"] == pytest.approx(wall, abs=1e-6)
    assert {s["run_id"] for s in spans} == {spans[0]["run_id"]}


def test_traced_queries_cover_layers_and_reconcile(tiny, capsys):
    assert run.main(["--workload", "graph_iterative", "--seed", "2", "--seconds", "1", "--trace", "1"]) == 0
    res = _result(capsys)
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.PER_LAYER)
    assert m["plans.build_s"] == pytest.approx(m["plans.pure_build_s"] + m["plans.eager_s"])
    assert 0 < m["plans.eager_s"] <= m["plans.build_s"]
    for k in ("plans.py4j_calls", "plans.eager_jobs", "spark.exec_s", "spark.jobs", "spark.stages",
              "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.shuffle_write_bytes",
              "spark.shuffle_read_bytes", "spark.shuffle_records", "spark.core_busy_frac",
              "sources.scan_bytes", "sources.scan_rows", "functions.python_rows",
              "functions.python_bytes"):
        assert m[k] > 0, k
    spans = _spans(tiny, "graph_iterative")
    assert {"workload", "query", "build", "exec", "job"} <= {s["kind"] for s in spans}
    _reconciles(spans)


def test_traced_etl_covers_merge_target_and_pipeline(tiny, capsys):
    assert run.main(["--workload", "covid_etl", "--seed", "3", "--seconds", "1", "--trace", "1"]) == 0
    res = _result(capsys)
    assert res["correct"], res
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for k in ("operators.merge_calls", "operators.merge_s", "operators.bytes_written",
              "operators.files_written", "covid.run_full_s", "covid.run_incremental_s",
              "covid.load_enterprise_s", "covid.write_amp", "covid.space_amp",
              "spark.jobs", "sources.scan_bytes"):
        assert m[k] > 0, k
    spans = _spans(tiny, "covid_etl")
    kinds = {s["kind"] for s in spans}
    assert {"workload", "step", "merge", "job"} <= kinds
    steps = [s for s in spans if s["kind"] == "step"]
    assert [s["call"] for s in steps] == ["run_full", "load_enterprise", "run_incremental", "load_enterprise"]
    assert m["plans.build_s"] + m["spark.exec_s"] == pytest.approx(sum(s["end"] - s["start"] for s in steps))
