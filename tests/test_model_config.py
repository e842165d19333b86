"""Per-model config lives on the ``@model(...)`` declaration.

- registering an incremental model whose ``cluster_by`` is not one of
  its ``unique_key`` columns raises, and registers nothing;
- the incremental batch order derived from registration order puts
  every incremental model after each incremental model it reads,
  directly or through other models (recorded from a full build of the
  whole DAG on a one-charger fleet generated by perfbench.fleet).
"""

from __future__ import annotations

import threading

import pytest

from kwwhat_spark.models.base import CLUSTER_BY, MODELS, UNIQUE_KEYS, VIEW_MODELS, Pipeline, model
from kwwhat_spark.operators.cachescope import scope
from kwwhat_spark.plans.incremental import INCREMENTAL_ORDER
from kwwhat_spark.sources.ocpp import load_ocpp_sources


def test_cluster_by_must_be_a_unique_key_column():
    before = (dict(MODELS), set(VIEW_MODELS), dict(UNIQUE_KEYS), dict(CLUSTER_BY))
    with pytest.raises(ValueError, match="cluster_by 'from_ts'"):
        @model("bad_incremental", unique_key=["charger_id", "ingested_ts"], cluster_by="from_ts")
        def bad_incremental(p):
            raise AssertionError("never built")
    assert (MODELS, VIEW_MODELS, UNIQUE_KEYS, CLUSTER_BY) == before


_building = threading.local()


class RecordingPipeline(Pipeline):
    """Records, for each model body, the models it asks for. ``refs``
    ends with a ``ref`` per name on the body's own thread, so recording
    in ``ref`` sees every read of a body."""

    def _build(self, name):
        outer = getattr(_building, "name", None)
        _building.name = name
        try:
            return super()._build(name)
        finally:
            _building.name = outer

    def ref(self, name):
        reader = getattr(_building, "name", None)
        if reader is not None:
            self.reads.setdefault(reader, set()).add(name)
        return super().ref(name)


def test_incremental_order_follows_the_dag(spark, one_charger_fleet):
    assert INCREMENTAL_ORDER == [m for m in MODELS if m in UNIQUE_KEYS]
    assert len(INCREMENTAL_ORDER) == 12

    pipe = RecordingPipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet),
                             cache_views=("stg_ocpp_logs",))
    pipe.reads = {}
    with scope():
        pipe.refs(*MODELS)
    assert set(INCREMENTAL_ORDER) <= set(pipe.reads)

    def upstream(name, seen):
        for r in pipe.reads.get(name, ()):
            if r not in seen:
                seen.add(r)
                upstream(r, seen)
        return seen

    for i, name in enumerate(INCREMENTAL_ORDER):
        late = (upstream(name, set()) & set(UNIQUE_KEYS)) - set(INCREMENTAL_ORDER[:i])
        assert not late, f"{name} reads {sorted(late)}, which the batch merges after it"
