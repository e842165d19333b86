"""bench.py's shared trial loop and rig verdict, and an import check of
every tool that builds on them."""

from __future__ import annotations

import glob
import importlib
import os
from types import SimpleNamespace

import pytest

import bench
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.queries import REGISTRY

TOOLS = sorted(
    os.path.basename(p)[:-3]
    for p in glob.glob(os.path.join(os.path.dirname(bench.__file__), "tools", "*.py"))
)


def test_time_entry_rebuilds_per_trial_and_clears_cache(spark, monkeypatch):
    calls = []

    def build(spark, sf_dir):
        calls.append(sf_dir)
        df = keep(spark.range(10).persist())
        df.count()
        return df

    monkeypatch.setitem(REGISTRY, "stub_entry", SimpleNamespace(spark=build))
    before = []
    runs = bench.time_entry(spark, "stub_entry", "sf", 3, lambda: before.append(1))
    assert calls == ["sf"] * 3
    assert len(before) == 3
    assert len(runs) == 3 and all(t >= 0 for t in runs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "before, after, load, verdict",
    [
        (0.2, 0.2, [], "unknown"),
        (0.2, 0.33, [1.0], "contended"),
        (0.2, 0.2, [7.5], "contended"),
        (0.2, 0.3, [6.9], "steady"),
    ],
)
def test_rig_verdict(before, after, load, verdict):
    assert bench._rig_verdict(before, after, load)["verdict"] == verdict


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_settle_gate_discards_the_first_canary(monkeypatch):
    reads = iter([0.9, 0.2, 0.25])  # a cold first read, then steady ones
    monkeypatch.setattr(bench, "_scan_floor", lambda spark, d: next(reads))
    gate = bench._SettleGate(0.0, "canary")
    assert gate.wait(None) == 0.2
    assert gate.wait(None) == 0.25
    assert gate.gates == 2 and gate.waits == 0


@pytest.mark.parametrize(
    "reads, first",
    [
        ([0.48, 0.40, 0.37, 0.26, 0.3], 0.26),  # falls into the band
        ([0.5, 0.49, 0.3], 0.49),  # settled above it: the machine is busy
        ([1.0, 0.9, 0.8, 0.7, 0.6, 0.5, 0.3], 0.5),  # read budget spent
    ],
)
def test_settle_gate_warms_the_first_canary_until_it_settles(monkeypatch, reads, first):
    it = iter(reads)
    monkeypatch.setattr(bench, "_scan_floor", lambda spark, d: next(it))
    gate = bench._SettleGate(0.0, "canary")
    assert gate.wait(None) == first
    assert gate.wait(None) == 0.3  # later gates read once
    assert next(it, None) is None


def test_bench_exports_scan_floor():
    # perfbench/run.py labels the rig with it.
    assert callable(bench._scan_floor)
