"""Model materialisation: Pipeline.ref hands each persisted model to its
consumers as a lineage-cut checkpoint (a LogicalRDD leaf), and every
checkpoint the model layer or the incremental state store creates is
freed again, checked by RDD id rather than by a session-wide count.
"""

from __future__ import annotations

import datetime as dt

import pytest

import kwwhat_spark.models  # noqa: F401  (registers the model DAG)
from kwwhat_spark.models import Pipeline
from kwwhat_spark.operators.cachescope import checkpoint_rdd, release, scope
from kwwhat_spark.plans.incremental import (
    IncrementalRunner,
    ParquetStateStore,
)
from kwwhat_spark.sources.ocpp import (
    CHARGERS_SCHEMA,
    CONNECTORS_SCHEMA,
    OCPP_LOGS_SCHEMA,
    PORTS_SCHEMA,
)
from tests.test_cachescope import _persistent_ids

T0 = dt.datetime(2025, 10, 2, 8, 0, 0)


def _sources(spark) -> dict:
    return {
        "raw_ocpp_logs": spark.createDataFrame([], OCPP_LOGS_SCHEMA),
        "raw_chargers": spark.createDataFrame(
            [("cp1", "loc1", "2025-01-01 00:00:00", None),
             ("cp2", "loc1", "2025-01-01 00:00:00", "2025-09-01 00:00:00")],
            CHARGERS_SCHEMA,
        ),
        "raw_ports": spark.createDataFrame([("cp1", "1"), ("cp2", "1")], PORTS_SCHEMA),
        "raw_connectors": spark.createDataFrame(
            [("cp1", "1", "1", "CCS"), ("cp1", "1", "2", "Type2"),
             ("cp2", "1", "1", "CCS")],
            CONNECTORS_SCHEMA,
        ),
    }


def _status_changes(spark, start: dt.datetime):
    """A tiny int_status_changes: one closed and one open row per
    connector, the open one being its latest status."""
    rows = []
    for charger, connector in (("cp1", "1"), ("cp1", "2"), ("cp2", "1")):
        rows.append((charger, connector, "1", "Preparing", "NoError", start, "Available"))
        rows.append((charger, connector, "1", "Available", "NoError",
                     start + dt.timedelta(minutes=5), None))
    return spark.createDataFrame(
        rows,
        "charger_id string, connector_id string, port_id string, status string, "
        "error_code string, ingested_ts timestamp, next_status string",
    )


@pytest.fixture()
def pipe(spark):
    # The status chain is mocked (dbt-unit style), so the test runs no
    # OCPP log through staging; the override is the caller's checkpoint.
    with scope():
        latest = Pipeline(spark=spark, sources={},
                          overrides={"int_status_changes": _status_changes(spark, T0)})
        latest_status = latest.ref("int_connector_latest_status")
        p = Pipeline(spark=spark, sources=_sources(spark),
                     overrides={"int_connector_latest_status": latest_status})
        yield p


def test_ref_hands_out_lineage_cut_checkpoints(pipe):
    dim = pipe.ref("dim_connectors")
    assert dim._jdf.queryExecution().logical().nodeName() == "LogicalRDD"
    assert sorted(r["connector_id"] for r in dim.collect()) == ["1", "1", "2"]
    # Views stay lazy plans that collapse into their consumers.
    assert checkpoint_rdd(pipe.ref("stg_connectors")) is None


def test_scope_releases_the_pipeline_checkpoints(spark, pipe):
    with scope():
        pipe.ref("dim_connectors")
        pipe.ref("dim_chargers")
        owned = {n: checkpoint_rdd(df).id() for n, df in pipe._cache.items()
                 if checkpoint_rdd(df) is not None}
        assert set(owned) == {"int_connectors", "int_ports", "int_chargers",
                              "dim_connectors", "dim_chargers"}
        override_id = checkpoint_rdd(pipe.overrides["int_connector_latest_status"]).id()
        live = _persistent_ids(spark)
        assert set(owned.values()) <= live and override_id in live

    live = _persistent_ids(spark)
    assert not set(owned.values()) & live
    assert override_id in live  # the caller's checkpoint is not the Pipeline's


def test_incremental_batches_release_every_checkpoint(spark, tmp_path):
    runner = IncrementalRunner(spark, ParquetStateStore(spark, str(tmp_path / "v")))
    before = _persistent_ids(spark)
    for day in range(2):  # a first build, then a merge into prior state
        upstream = _status_changes(spark, T0 + dt.timedelta(days=day))
        runner.run_batch({}, models=["int_connector_latest_status"],
                         overrides={"int_status_changes": upstream})
    assert _persistent_ids(spark) <= before
    assert runner.table("int_connector_latest_status").count() == 3


def test_partitioned_merges_release_every_checkpoint(spark, tmp_path):
    from pyspark.sql import functions as F

    store = ParquetStateStore(spark, str(tmp_path / "p"))  # clusters int_status_changes
    keys = ["charger_id", "connector_id", "ingested_ts"]
    before = _persistent_ids(spark)
    store.merge("int_status_changes", _status_changes(spark, T0), keys)
    # Same partitions, overlapping keys: the checkpointed batch path.
    store.merge("int_status_changes", _status_changes(spark, T0), keys)
    # An added column: the full-rewrite evolution path.
    evolved = _status_changes(spark, T0 + dt.timedelta(days=1)).withColumn(
        "error_info", F.lit("x"))
    store.merge("int_status_changes", evolved, keys)
    assert _persistent_ids(spark) <= before
    assert store.read("int_status_changes").count() == 12


def test_compact_partitioned_releases_its_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from kwwhat_spark.sinks import compact_partitioned

    path = str(tmp_path / "frag")
    spark.range(0, 200).withColumn("_date", F.lit("2025-10-01")).repartition(8) \
        .write.partitionBy("_date").parquet(path)
    before = _persistent_ids(spark)
    assert len(compact_partitioned(spark, path, min_files=4, sort_col="id")) == 1
    assert _persistent_ids(spark) <= before
    assert spark.read.parquet(path).count() == 200


def test_train_logreg_releases_its_training_set(spark):
    from kwwhat_spark.operators.classifier import train_logreg

    feats = spark.createDataFrame(
        [(d, b, 1) for d in range(8) for b in (d % 2, 2)], "doc_id long, bucket int, cnt int")
    labels = spark.createDataFrame([(d, d % 2) for d in range(8)], "doc_id long, y int")
    before = _persistent_ids(spark)
    w = train_logreg(feats, labels, rounds=2, lr_shift=4)
    assert set(w) == {0, 1, 2}
    assert _persistent_ids(spark) <= before


def test_learn_bpe_merges_releases_its_round_checkpoints(spark):
    from kwwhat_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame([("low lower lowest",), ("newer newest new",)], "text string")
    before = _persistent_ids(spark)
    assert len(learn_bpe_merges(docs, n_merges=4)) == 4
    assert _persistent_ids(spark) <= before


def test_connected_components_keeps_only_its_labels(spark):
    from kwwhat_spark.operators.graph import connected_components

    # A 6-link chain takes several pointer-jumping rounds.
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
    before = _persistent_ids(spark)
    labels = connected_components(edges, "a", "b", local_max_edge_rows=0)
    assert _persistent_ids(spark) - before == {checkpoint_rdd(labels).id()}
    assert {r["component"] for r in labels.collect()} == {0}
    release(labels)


@pytest.mark.parametrize("cluster_by", [{}, None], ids=["versioned", "clustered"])
def test_merge_materialises_only_a_lazy_batch(spark, tmp_path, monkeypatch, cluster_by):
    # IncrementalRunner merges a model's checkpoint: copying it again
    # would double the batch's blocks. A lazy plan (streaming merge_sink)
    # is still materialised once.
    store = ParquetStateStore(spark, str(tmp_path / "s"), cluster_by=cluster_by)
    keys = ["charger_id", "connector_id", "ingested_ts"]
    store.merge("int_status_changes", _status_changes(spark, T0), keys)
    calls = []
    frame_class = type(_status_changes(spark, T0))  # the classic DataFrame
    real = frame_class.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    with scope():
        batch = _status_changes(spark, T0).localCheckpoint(eager=True)
        monkeypatch.setattr(frame_class, "localCheckpoint", counted)
        store.merge("int_status_changes", batch, keys)
        assert calls == []
        release(batch)
        store.merge("int_status_changes", _status_changes(spark, T0), keys)
        assert len(calls) == 1
    assert store.read("int_status_changes").count() == 6
