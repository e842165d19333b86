"""Tests of the benchmark itself: input generators, metric names, the
span and event-log bookkeeping, and the traced record.

    python -m pytest perfbench/test_perfbench.py          # fast tier
    python -m pytest perfbench/test_perfbench.py -m full  # traced runs too
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import fleet, spans, tables
from perfbench.run import END_TO_END, WORKLOADS, _workloads, per_layer_spec

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_fleet_digest_follows_seed(tmp_path):
    a = fleet.write_fleet(str(tmp_path / "a"), fleet.generate(7, 2, days=2))
    b = fleet.write_fleet(str(tmp_path / "b"), fleet.generate(7, 2, days=2))
    c = fleet.write_fleet(str(tmp_path / "c"), fleet.generate(8, 2, days=2))
    assert a == b
    assert a["digest"] != c["digest"]
    assert a["rows"] > 0


def test_fleet_chargers_never_share_a_timestamp():
    logs = fleet.generate(3, 14, days=2)["logs"]
    chargers: dict[str, set] = {}
    for ts, charger, _action, _msg in logs:
        chargers.setdefault(ts, set()).add(charger)
    assert all(len(c) == 1 for c in chargers.values())


def test_tables_digest_follows_seed(tmp_path):
    a = tables.write_tables(str(tmp_path / "a"), tables.generate(7, 0.05))
    b = tables.write_tables(str(tmp_path / "b"), tables.generate(7, 0.05))
    c = tables.write_tables(str(tmp_path / "c"), tables.generate(8, 0.05))
    assert a == b
    assert a["digest"] != c["digest"]


def test_metric_names_are_well_formed_and_unique():
    names = [n for n, _u, _b in END_TO_END] + list(per_layer_spec())
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n


def test_benchmark_json_matches_the_code():
    bench = _bench_json()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS) == list(_workloads())
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    spec = per_layer_spec()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, (u, b) in spec.items()]
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")


class _FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_spans_nest_and_restore_the_job_group():
    sc = _FakeContext()
    tr = spans.Tracer(sc, True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "inner"
        assert sc.props["spark.jobGroup.id"] == "outer"
    assert sc.props["spark.jobGroup.id"] is None
    inner = outer.children[0]
    assert outer.self_time == pytest.approx(outer.duration - inner.duration)
    assert set(tr.self_times()) == {"outer", "inner"}


def test_untraced_spans_record_nothing():
    sc = _FakeContext()
    tr = spans.Tracer(sc, False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and sc.props == {}


def test_event_log_fold_counts_only_stages_that_ran(tmp_path):
    def stage(sid, group):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0},
                "Properties": {"spark.jobGroup.id": group}}

    def task(sid, run_ms, shuffle, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    events = [
        # Job 1 declares stages 0 and 1; stage 0 was skipped (its shuffle
        # output came from an earlier job), so only stage 1 runs.
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "models.a"}},
        stage(1, "models.a"), task(1, 100, 10, 0), task(1, 50, 5, 7),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        stage(2, None), task(2, 30, 0, 0),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = spans.fold_event_log(str(path))
    a = groups["models.a"]
    assert (a.jobs, a.stages, a.tasks) == (1, 1, 2)
    assert (a.executor_ms, a.shuffle_write_bytes, a.spill_bytes) == (150, 15, 7)
    assert groups[None].tasks == 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.full
@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    record = json.loads(p.stdout.strip().splitlines()[-1])
    assert record["correct"] and record["failed"] == 0
    wanted = [m["name"] for m in _bench_json()["per_layer"]]
    assert list(record["metrics"]) == wanted
    assert record["metrics"]["trace.run_s"]["value"] > 0
