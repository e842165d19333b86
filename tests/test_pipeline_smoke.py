"""Full-DAG smoke test on the one-charger 14-day generated fleet
(conftest ``one_charger_fleet``): every model runs, produces plausible
rows, and passes the reference's declared data-quality invariants (dbt
schema tests, SURVEY §5.1). Expected counts are read from the fleet's
own CSVs."""

from __future__ import annotations

import csv
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import MODELS, Pipeline
from kwwhat_spark.sources.ocpp import load_ocpp_sources


@pytest.fixture(scope="module")
def pipe(spark, one_charger_fleet):
    return Pipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet))


@pytest.fixture(scope="module")
def seed_csv(one_charger_fleet):
    """The fleet's CSVs as lists of dicts, keyed by file name."""
    def rows(name):
        with open(os.path.join(one_charger_fleet, name), newline="") as f:
            return list(csv.DictReader(f))
    return {name: rows(name) for name in (
        "ocpp_1_6_synthetic_logs_14d.csv", "chargers.csv", "ports.csv",
        "connectors.csv")}


def test_staging_counts(pipe, seed_csv):
    logs = pipe.ref("stg_ocpp_logs")
    assert logs.count() == len(seed_csv["ocpp_1_6_synthetic_logs_14d.csv"])
    # Envelope split: every row classifies as CALL or CALLRESULT.
    types = {r["message_type_id"] for r in logs.select("message_type_id").distinct().collect()}
    assert types == {"2", "3"}
    assert pipe.ref("stg_chargers").count() == len(seed_csv["chargers.csv"])
    assert pipe.ref("stg_ports").count() == len(seed_csv["ports.csv"])
    assert pipe.ref("stg_connectors").count() == len(seed_csv["connectors.csv"])


def test_hardware_dims(pipe, seed_csv):
    ports = seed_csv["ports.csv"]
    chargers = pipe.ref("int_chargers").collect()
    assert {r["charger_id"]: r["port_count"] for r in chargers} == Counter(
        r["charge_point_id"] for r in ports)
    assert pipe.ref("dim_ports").count() == len(ports)

    location = {r["charge_point_id"]: r["location_id"] for r in seed_csv["chargers.csv"]}
    expected = {
        "charger_count": Counter(location.values()),
        "port_count": Counter(location[r["charge_point_id"]] for r in ports),
        "connector_count": Counter(
            location[r["charge_point_id"]] for r in seed_csv["connectors.csv"]),
    }
    assert pipe.ref("dim_locations").count() == len(expected["charger_count"])
    cap = {r["location_id"]: r for r in pipe.ref("fact_location_capacity").collect()}
    for col, per_location in expected.items():
        assert {loc: r[col] for loc, r in cap.items()} == per_location, col


def test_dim_dates(pipe):
    dd = pipe.ref("dim_dates")
    # dbt_utils.date_spine excludes end_date: 2020-01-01 .. 2050-12-30.
    assert dd.count() == 11322
    row = dd.filter(F.col("date_day") == "2024-02-29").first()
    assert row is not None and row["quarter"] == 1


def test_status_changes_invariants(pipe):
    sc = pipe.ref("int_status_changes")
    rows = sc.count()
    assert rows > 0
    # PK: (charger_id, connector_id, ingested_ts) unique (intermediate.yml).
    assert sc.select("charger_id", "connector_id", "ingested_ts").distinct().count() == rows
    # Change invariant: status != previous_status or previous is null.
    bad = sc.filter(
        F.col("previous_status").isNotNull()
        & (F.col("previous_status") == F.col("status"))
    ).count()
    assert bad == 0
    # Accepted values.
    statuses = {r["status"] for r in sc.select("status").distinct().collect()}
    assert statuses <= {
        "Available", "Preparing", "Charging", "SuspendedEVSE", "SuspendedEV",
        "Finishing", "Reserved", "Unavailable", "Faulted",
    }


def test_transactions_energy(pipe):
    tx = pipe.ref("int_transactions")
    rows = tx.collect()
    assert len(rows) > 0
    for r in rows:
        if r["meter_start_wh"] is not None and r["meter_stop_wh"] is not None:
            assert float(r["energy_transferred_kwh"]) == pytest.approx(
                (float(r["meter_stop_wh"]) - float(r["meter_start_wh"])) / 1000.0
            )
    # transactionId comes from CALLRESULT for StartTransaction: all ids set.
    assert all(r["transaction_id"] is not None for r in rows)


def test_charge_attempts_success_rule(pipe):
    att = pipe.ref("fact_charge_attempts")
    rows = att.collect()
    assert len(rows) > 0
    for r in rows:
        expected = bool(
            r["transaction_id"] is not None
            and (r["next_status"] is None or r["next_status"] != "Faulted")
            and r["transaction_stop_reason"] in ("Local", "Remote", "EVDisconnected")
            and r["energy_transferred_kwh"] is not None
            and float(r["energy_transferred_kwh"]) > 0.1
        )
        assert r["is_successful"] == expected, r
    # charge_attempt_id is the md5 surrogate of the composite key.
    assert all(len(r["charge_attempt_id"]) == 32 for r in rows)


def test_visits_rollup(pipe):
    v = pipe.ref("fact_visits")
    rows = v.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["visit_end_ts"] is None or r["visit_end_ts"] >= r["visit_start_ts"]
        assert r["charge_attempt_count"] >= 1
        assert len(r["charge_attempt_ids"]) >= 1
    # fact_visits drops orphan attempts, those without a
    # charge_attempt_start_ts (models/visits.py; reference
    # fact_visits.sql:143); the visits reference every other attempt.
    total_attempt_refs = sum(r["charge_attempt_count"] for r in rows)
    att_count = (
        pipe.ref("fact_charge_attempts")
        .filter(F.col("charge_attempt_start_ts").isNotNull())
        .count()
    )
    assert total_attempt_refs == att_count


def test_outages_and_uptime(pipe):
    off = pipe.ref("int_offline_outages").collect()
    for r in off:
        assert r["to_ts"] > r["from_ts"]
    up = pipe.ref("fact_uptime").collect()
    assert len(up) > 0
    for r in up:
        assert 0.0 <= r["uptime"] <= 1.0


def test_meter_values_bounds(pipe):
    mv = pipe.ref("int_meter_values").collect()
    assert len(mv) > 0
    for r in mv:
        assert r["min_value"] <= r["avg_value"] + 1e-6
        assert r["avg_value"] <= r["max_value"] + 1e-6
    fid = pipe.ref("fact_interval_data")
    assert fid.count() > 0


def test_all_models_run(pipe):
    for name in MODELS:
        df = pipe.ref(name)
        assert df.columns, name
