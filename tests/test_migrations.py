"""Migration-story tests (VERDICT r2 "What's missing" #5).

1. The reference's 001_split_ports.sql replayed as DataFrame jobs: a
   reconstructed legacy connector-grain table (with the pre-migration
   wrong connector type) splits into entity tables that exactly match
   the demo seed's CH-001 hardware rows recorded in FIXTURES.md §1,
   corrections included.
2. Persisted state-store schema evolution: additive model columns evolve
   the stored state with typed NULLs on the next incremental merge;
   destructive changes refuse until an explicit store.migrate().
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.plans.incremental import ParquetStateStore
from kwwhat_spark.plans.migrations import split_ports, validate_split
from kwwhat_spark.sources.ocpp import (
    CHARGERS_SCHEMA,
    CONNECTORS_SCHEMA,
    PORTS_SCHEMA,
)

# The store's two layouts for int_status_changes: no cluster column
# (versioned), and its default cluster column (date partitions).
LAYOUTS = pytest.mark.parametrize(
    "cluster_by", [{}, None], ids=["versioned", "clustered"])


def test_split_ports_reproduces_seed_tables(spark):
    # The demo seed's hardware rows for CH-001 (FIXTURES.md §1), the
    # charger that carries the migration's connector-type correction.
    chargers = spark.createDataFrame(
        [("CH-001", "LOC-001", "2025-10-01T08:00:00.000Z",
          "2025-10-15T07:55:00.100Z")],
        CHARGERS_SCHEMA,
    )
    ports = spark.createDataFrame([("CH-001", "1"), ("CH-001", "2")], PORTS_SCHEMA)
    connectors = spark.createDataFrame(
        [("CH-001", "1", "1", "CCS"), ("CH-001", "1", "2", "NACS"),
         ("CH-001", "2", "3", "CCS"), ("CH-001", "2", "4", "CHAdeMO")],
        CONNECTORS_SCHEMA,
    )

    # Reconstruct the LEGACY denormalized table the migration starts
    # from, with the pre-correction connector type the reference's
    # UPDATE fixes (001_split_ports.sql:44-48).
    legacy = (
        connectors.join(ports, ["charge_point_id", "port_id"])
        .join(chargers, "charge_point_id")
        .withColumn(
            "connector_type",
            F.when(
                (F.col("charge_point_id") == "CH-001")
                & (F.col("port_id") == "2")
                & (F.col("connector_id") == "4"),
                F.lit("Type2"),  # the wrong pre-migration value
            ).otherwise(F.col("connector_type")),
        )
        .select(
            "charge_point_id", "location_id", "commissioned_ts",
            "decommissioned_ts", "port_id", "connector_id", "connector_type",
        )
    )
    # sanity: the seed actually contains the corrected row
    assert (
        connectors.filter(
            (F.col("charge_point_id") == "CH-001")
            & (F.col("port_id") == "2")
            & (F.col("connector_id") == "4")
        ).first()["connector_type"]
        == "CHAdeMO"
    )

    migrated = split_ports(legacy)
    problems = validate_split(
        migrated,
        {"chargers": chargers, "ports": ports, "connectors": connectors},
    )
    assert problems == [], problems


@LAYOUTS
def test_state_store_additive_schema_evolution(spark, tmp_path, cluster_by):
    store = ParquetStateStore(spark, str(tmp_path / "state"), cluster_by)
    name = "int_status_changes"  # clustered by ingested_ts by default
    keys = ["charger_id", "connector_id", "ingested_ts"]
    v1 = spark.createDataFrame(
        [("CH-1", "1", "2025-10-01 10:00:00", "Available"),
         ("CH-1", "1", "2025-10-02 10:00:00", "Charging")],
        "charger_id string, connector_id string, ingested_ts string, status string",
    ).withColumn("ingested_ts", F.col("ingested_ts").cast("timestamp"))
    store.write(name, v1)

    # Model evolves: a new column appears (e.g. extract_callerror on).
    v2 = spark.createDataFrame(
        [("CH-1", "1", "2025-10-02 10:00:00", "Faulted", "GroundFailure"),
         ("CH-1", "1", "2025-10-03 10:00:00", "Available", None)],
        "charger_id string, connector_id string, ingested_ts string, "
        "status string, error_code string",
    ).withColumn("ingested_ts", F.col("ingested_ts").cast("timestamp"))
    store.merge(name, v2, keys)

    got = {r["ingested_ts"].isoformat(): r for r in store.read(name).collect()}
    assert len(got) == 3
    # untouched old row: typed NULL backfill for the new column
    assert got["2025-10-01T10:00:00"]["error_code"] is None
    assert got["2025-10-01T10:00:00"]["status"] == "Available"
    # merged key: replaced by the new batch's row
    assert got["2025-10-02T10:00:00"]["status"] == "Faulted"
    assert got["2025-10-02T10:00:00"]["error_code"] == "GroundFailure"
    assert got["2025-10-03T10:00:00"]["error_code"] is None


@LAYOUTS
def test_state_store_refuses_dropped_columns_until_migrate(spark, tmp_path, cluster_by):
    store = ParquetStateStore(spark, str(tmp_path / "state"), cluster_by)
    name = "int_status_changes"
    keys = ["charger_id", "connector_id", "ingested_ts"]
    v1 = spark.createDataFrame(
        [("CH-1", "1", "2025-10-01 10:00:00", "Available", "NoError")],
        "charger_id string, connector_id string, ingested_ts string, "
        "status string, error_code string",
    ).withColumn("ingested_ts", F.col("ingested_ts").cast("timestamp"))
    store.write(name, v1)

    slim = spark.createDataFrame(
        [("CH-1", "1", "2025-10-02 10:00:00", "Charging")],
        "charger_id string, connector_id string, ingested_ts string, status string",
    ).withColumn("ingested_ts", F.col("ingested_ts").cast("timestamp"))
    with pytest.raises(RuntimeError, match="migrate"):
        store.merge(name, slim, keys)

    # Explicit migration (phase-staged: new version, old kept), then the
    # slim batch merges cleanly.
    store.migrate(name, lambda df: df.drop("error_code"))
    store.merge(name, slim, keys)
    rows = store.read(name).collect()
    assert {r["status"] for r in rows} == {"Available", "Charging"}
    assert "error_code" not in store.read(name).columns


@LAYOUTS
def test_state_store_survives_empty_state(spark, tmp_path, cluster_by):
    """An EMPTY batch writes a parquet dir with no part files; the next
    read must reconstruct the empty state from the recorded schema (not
    crash on schema inference, not flip the model to full-refresh)."""
    store = ParquetStateStore(spark, str(tmp_path / "state"), cluster_by)
    name = "int_status_changes"
    empty = spark.createDataFrame(
        [],
        "charger_id string, connector_id string, ingested_ts timestamp, status string",
    )
    store.write(name, empty)
    got = store.read(name)
    assert got is not None and got.count() == 0
    assert got.columns == ["charger_id", "connector_id", "ingested_ts", "status"]
    # merge into empty state works and subsequent reads see the rows
    batch = spark.createDataFrame(
        [("CH-1", "1", "2025-10-01 10:00:00", "Available")],
        "charger_id string, connector_id string, ingested_ts string, status string",
    ).withColumn("ingested_ts", F.col("ingested_ts").cast("timestamp"))
    store.merge(name, batch, ["charger_id", "connector_id", "ingested_ts"])
    assert store.read(name).count() == 1
