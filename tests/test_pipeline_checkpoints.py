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
from kwwhat_spark.operators.cachescope import checkpoint_rdd
from kwwhat_spark.plans.incremental import (
    IncrementalRunner,
    ParquetStateStore,
    PartitionedStateStore,
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
    latest = Pipeline(spark=spark, sources={},
                      overrides={"int_status_changes": _status_changes(spark, T0)})
    latest_status = latest.ref("int_connector_latest_status")
    p = Pipeline(spark=spark, sources=_sources(spark),
                 overrides={"int_connector_latest_status": latest_status})
    yield p
    p.unpersist_all()
    latest.unpersist_all()


def test_ref_hands_out_lineage_cut_checkpoints(pipe):
    dim = pipe.ref("dim_connectors")
    assert dim._jdf.queryExecution().logical().nodeName() == "LogicalRDD"
    assert sorted(r["connector_id"] for r in dim.collect()) == ["1", "1", "2"]
    # Views stay lazy plans that collapse into their consumers.
    assert checkpoint_rdd(pipe.ref("stg_connectors")) is None


def test_unpersist_all_releases_the_pipeline_checkpoints(spark, pipe):
    pipe.ref("dim_connectors")
    pipe.ref("dim_chargers")
    owned = {n: checkpoint_rdd(df).id() for n, df in pipe._cache.items()
             if checkpoint_rdd(df) is not None}
    assert set(owned) == {"int_connectors", "int_ports", "int_chargers",
                          "dim_connectors", "dim_chargers"}
    override_id = checkpoint_rdd(pipe.overrides["int_connector_latest_status"]).id()
    live = _persistent_ids(spark)
    assert set(owned.values()) <= live and override_id in live

    pipe.unpersist_all()
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

    store = PartitionedStateStore(spark, str(tmp_path / "p"))
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
