"""Concurrent model builds (Pipeline.refs) are the same build as a
sequential one.

Runs on the shared one-charger fleet (conftest ``one_charger_fleet``):

- every model function runs once, however many branches read it;
- both charge-attempt marts equal the DuckDB compile of the DAG;
- jobs started on worker threads carry the caller's job group;
- a model that raises in a worker fails the caller and every waiter,
  without hanging and without being remembered;
- no model body reads an unbuilt materialised model with a plain ``ref``
  (which would build that branch serially).
"""

from __future__ import annotations

import random
import sys
import threading
import time
from collections import Counter
from contextvars import copy_context

import duckdb
import pytest

from kwwhat_spark.models import base
from kwwhat_spark.models.base import MODELS, VIEW_MODELS, Pipeline
from kwwhat_spark.operators.cachescope import scope
from kwwhat_spark.queries.ocpp_pipeline import mart_oracle_for_seed_dir, mart_projection
from kwwhat_spark.sources.ocpp import load_ocpp_sources
from tests.oracle_harness import compare

MARTS = ("fact_charge_attempts", "fact_visits")
# Everything fact_charge_attempts and fact_visits read, views included.
UPSTREAM = {
    "stg_ocpp_logs", "stg_chargers", "stg_ports", "stg_connectors",
    "int_chargers", "int_ports", "int_connectors", "dim_chargers",
    "dim_connectors", "int_status_changes", "int_connector_latest_status",
    "int_transactions", "int_connector_preparing", *MARTS,
}
TIMEOUT_S = 120


@pytest.fixture()
def in_scope():
    """A cache scope around the test: the models its Pipelines build are
    freed when it ends."""
    with scope():
        yield


def _pipeline(spark, seed_dir, cls=Pipeline):
    return cls(spark=spark, sources=load_ocpp_sources(spark, seed_dir),
               cache_views=("stg_ocpp_logs",))


def test_concurrent_build_is_the_same_build(spark, one_charger_fleet, monkeypatch, in_scope):
    sc = spark.sparkContext
    group = "pipeline-concurrency-test"
    built: list[str] = []
    groups_seen: dict[str, str | None] = {}
    threads: set[int] = set()

    def counted(name, fn):
        def run(p):
            built.append(name)  # atomic, so a second build cannot go unseen
            groups_seen[name] = sc.getLocalProperty("spark.jobGroup.id")
            threads.add(threading.get_ident())
            return fn(p)
        return run

    for name, fn in list(MODELS.items()):
        monkeypatch.setitem(MODELS, name, counted(name, fn))
    pipe = _pipeline(spark, one_charger_fleet)
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        marts = pipe.refs(*MARTS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    calls = Counter(built)
    assert set(calls) == UPSTREAM
    assert all(n == 1 for n in calls.values()), calls
    assert len(threads) > 1, "refs built nothing on a worker thread"

    # Job groups: every model body ran with the caller's group, the
    # group owns at least one job per materialised model, and the build
    # started no job outside it.
    assert set(groups_seen.values()) == {group}, groups_seen
    materialised = [n for n in calls if n not in VIEW_MODELS or n in pipe.cache_views]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= len(materialised)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped_before

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for mart, df in zip(MARTS, marts):
        got = mart_projection(mart, df)
        problems = compare(got, con, mart_oracle_for_seed_dir(mart, one_charger_fleet))
        assert not problems, (mart, problems[:3])
        assert got.count() > 0, mart
    con.close()


class Boom(Exception):
    pass


def _in_thread(fn) -> dict:
    """Run fn in a thread; its result or exception under 'out'/'err'.
    The thread runs in a copy of the caller's context, so what it keeps
    lands in the caller's cache scope."""
    box: dict = {}

    def target():
        try:
            box["out"] = fn()
        except BaseException as e:
            box["err"] = e

    box["thread"] = threading.Thread(target=copy_context().run, args=(target,), daemon=True)
    box["thread"].start()
    return box


def test_refs_reraises_a_worker_failure(spark, one_charger_fleet, monkeypatch, in_scope):
    started, release = threading.Event(), threading.Event()
    calls: Counter = Counter()
    int_ports = MODELS["int_ports"]

    def failing(p):
        calls["int_ports"] += 1
        started.set()
        release.wait(TIMEOUT_S)
        raise Boom("int_ports")

    monkeypatch.setitem(MODELS, "int_ports", failing)
    pipe = _pipeline(spark, one_charger_fleet)
    # int_ports fails in a worker thread of refs, after a second caller
    # has started waiting for the same build.
    builder = _in_thread(lambda: pipe.refs("int_connectors", "int_ports"))
    assert started.wait(TIMEOUT_S)
    waiter = _in_thread(lambda: pipe.ref("int_ports"))
    release.set()
    for box in (builder, waiter):
        box["thread"].join(TIMEOUT_S)
        assert not box["thread"].is_alive(), "refs hung on a failed build"
        assert isinstance(box.get("err"), Boom), box
    assert calls["int_ports"] == 1
    assert "int_ports" not in pipe._cache and "int_ports" not in pipe._builds
    # The sibling branch still finished, and the failure is not served
    # from memory: the next request builds again.
    assert "int_connectors" in pipe._cache
    monkeypatch.setitem(MODELS, "int_ports", int_ports)
    assert pipe.ref("int_ports").count() > 0


def test_single_flight_under_contention(spark, monkeypatch):
    # A diamond of view-like models (no Spark job each), requested in
    # shuffled orders by more threads than cores while the interpreter
    # switches threads as often as it can: each body still runs once
    # and every caller gets the same objects.
    built: list[str] = []
    mids = [f"stress_mid_{i}" for i in range(6)]

    def body(name, reads):
        def run(p):
            p.refs(*reads)
            built.append(name)
            time.sleep(0.001)
            return object()
        return run

    monkeypatch.setitem(MODELS, "stress_root", body("stress_root", []))
    for m in mids:
        monkeypatch.setitem(MODELS, m, body(m, ["stress_root"]))
    monkeypatch.setitem(MODELS, "stress_top", body("stress_top", mids))
    names = ["stress_root", *mids, "stress_top"]
    monkeypatch.setattr(base, "VIEW_MODELS", VIEW_MODELS | set(names))
    pipe = Pipeline(spark=spark, sources={})
    boxes = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for seed in range(16):
            order = random.Random(seed).sample(names, len(names))
            boxes.append(_in_thread(lambda order=order: dict(zip(order, pipe.refs(*order)))))
        for box in boxes:
            box["thread"].join(TIMEOUT_S)
            assert not box["thread"].is_alive(), "concurrent refs deadlocked"
    finally:
        sys.setswitchinterval(interval)
    assert Counter(built) == Counter(names), Counter(built)
    first = boxes[0]["out"]
    assert all(box.get("out") == first for box in boxes)


def _frames() -> list:
    stack = getattr(_frames_local, "stack", None)
    if stack is None:
        stack = _frames_local.stack = []
    return stack


_frames_local = threading.local()


class RecordingPipeline(Pipeline):
    """Notes each plain ``ref`` a model body makes to a materialised
    model that is not built yet: ``(body, model)`` in ``late``.

    Each thread keeps a stack of the bodies it is running, as
    ``[name, inside_refs]`` frames: reads ``refs`` makes on a body's
    behalf are not the body's own plain reads."""

    def ref(self, name):
        stack = _frames()
        if stack and not stack[-1][1] and name not in self._cache and (
                name not in VIEW_MODELS or name in self.cache_views):
            self.late.append((stack[-1][0], name))
        stack.append([name, False])
        try:
            return super().ref(name)
        finally:
            stack.pop()

    def refs(self, *names):
        stack = _frames()
        top = stack[-1] if stack else [None, False]
        inside, top[1] = top[1], True
        try:
            return super().refs(*names)
        finally:
            top[1] = inside


def test_model_bodies_read_through_refs(spark, one_charger_fleet, monkeypatch, in_scope):
    pipe = _pipeline(spark, one_charger_fleet, RecordingPipeline)
    pipe.late = []
    pipe.refs(*MODELS)
    assert pipe.late == [], (
        "model bodies read these materialised models with a plain ref before "
        f"they were built, serialising their branches: {pipe.late}")

    # The recorder does see a plain ref of an unbuilt model.
    monkeypatch.setitem(MODELS, "serial_probe", lambda p: p.ref("int_connectors"))
    probe = _pipeline(spark, one_charger_fleet, RecordingPipeline)
    probe.late = []
    probe.ref("serial_probe")
    assert probe.late == [("serial_probe", "int_connectors")]
