"""Replay the reference's dbt unit tests (SURVEY §5.2) against our models.

Each dbt unit test gives mock input rows (SQL or dicts) per upstream ref
and expected output rows (possibly a column subset). We execute the given
SQL in DuckDB (the reference's own warehouse dialect), convert to Spark
DataFrames using the declared input schemas (FIXTURES.md §2), inject them
as Pipeline overrides, run the model full-refresh, and compare the
expected column subset as a multiset.

Incremental-mode tests are handled by the incremental runner tests once
that layer exists; here we replay the is_incremental()=false ones.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import Decimal
from pathlib import Path

import duckdb
import pytest
import yaml

REFERENCE = Path("/root/reference")
FIXTURE_DIR = REFERENCE / "tests" / "fixtures"

# Spark DDL schemas for every mocked input (FIXTURES.md §2-4).
INPUT_SCHEMAS: dict[str, str] = {
    "stg_ocpp_logs": (
        "ingested_timestamp timestamp, charger_id string, action string, "
        "message_type_id string, unique_id string, payload string"
    ),
    "int_connectors": "charger_id string, port_id string, connector_id string, connector_type string",
    "int_chargers": (
        "charger_id string, location_id string, commissioned_ts timestamp, "
        "decommissioned_ts timestamp, port_count int"
    ),
    "int_ports": "charger_id string, port_id string, connector_count int",
    "int_status_changes": (
        "charger_id string, connector_id string, port_id string, ingested_ts timestamp, "
        "unique_id string, status string, error_code string, payload string, "
        "payload_ts timestamp, confirmation_ingested_ts timestamp, "
        "previous_status string, previous_ingested_ts timestamp, previous_payload_ts timestamp, "
        "next_status string, next_ingested_ts timestamp, next_payload_ts timestamp, "
        "incremental_ts timestamp"
    ),
    "int_transactions": (
        "transaction_id string, charger_id string, connector_id string, "
        "connector_ids array<string>, ingested_ts timestamp, "
        "transaction_start_ts timestamp, transaction_stop_ts timestamp, "
        "last_ingested_ts timestamp, transaction_stop_reason string, "
        "id_tags array<string>, id_tag_statuses array<string>, id_tag string, "
        "meter_start_wh decimal(28,6), meter_stop_wh decimal(28,6), "
        "energy_transferred_kwh decimal(28,6), error_codes array<string>, "
        "port_id string, location_id string, incremental_ts timestamp, "
        "_unique_connectors_count int"
    ),
    "int_connector_preparing": (
        "charger_id string, connector_id string, port_id string, location_id string, "
        "unique_id string, ingested_ts timestamp, payload_ts timestamp, "
        "previous_status string, status string, next_status string, "
        "confirmation_ingested_ts timestamp, previous_ingested_ts timestamp, "
        "next_ingested_ts timestamp, previous_payload_ts timestamp, next_payload_ts timestamp, "
        "id_tags array<string>, id_tag_statuses array<string>, parent_id_tags array<string>, "
        "transaction_ids array<string>, error_codes array<string>, transaction_id string, "
        "incremental_ts timestamp, _unique_transaction_count int"
    ),
    "fact_charge_attempts": (
        "charge_attempt_id string, charger_id string, connector_id string, "
        "charge_attempt_start_ts timestamp, charge_attempt_stop_ts timestamp, "
        "preparing_ingested_ts timestamp, preparing_unique_id string, previous_status string, "
        "status string, next_status string, preparing_payload_ts timestamp, "
        "preparing_next_payload_ts timestamp, id_tags array<string>, "
        "id_tag_statuses array<string>, id_tag string, id_tag_status string, "
        "transaction_id string, "
        "transaction_start_ts timestamp, transaction_stop_ts timestamp, "
        "transaction_ingested_ts timestamp, transaction_stop_reason string, "
        "meter_start_wh decimal(28,6), meter_stop_wh decimal(28,6), "
        "energy_transferred_kwh decimal(28,6), error_codes array<string>, "
        "is_successful boolean, incremental_ts timestamp"
    ),
    "int_faulted_outages": (
        "charger_id string, port_id string, from_ts timestamp, to_ts timestamp, "
        "duration_minutes long, incremental_ts timestamp"
    ),
    "int_offline_outages": (
        "charger_id string, from_ts timestamp, to_ts timestamp, "
        "duration_minutes double, incremental_ts timestamp"
    ),
    "dim_dates": "date_id date, date_day date",
    "int_connector_latest_status": (
        "charger_id string, connector_id string, port_id string, "
        "latest_status string, latest_error_code string, latest_status_ts timestamp, "
        "incremental_ts timestamp"
    ),
    "fact_visits": (
        "visit_id string, location_key string, driver_key string, "
        "first_port_key string, last_port_key string, location_id string, "
        "charger_ids array<string>, id_tag string, visit_start_ts timestamp, "
        "visit_end_ts timestamp, charge_attempt_count long, "
        "charge_attempt_ids array<string>, total_energy_transferred_kwh decimal(38,6), "
        "first_charge_attempt_id string, last_charge_attempt_id string, "
        "first_charger_id string, last_charger_id string, "
        "first_port_id string, last_port_id string, is_successful boolean, "
        "grouping_key string, visit_duration_minutes long, incremental_ts timestamp"
    ),
    "int_driver_aggregates": (
        "id_tag string, first_seen_ts timestamp, last_seen_ts timestamp, "
        "first_authorization_status string, latest_authorization_status string, "
        "incremental_ts timestamp"
    ),
    "dim_connectors": (
        "charger_id string, location_id string, port_id string, connector_id string, "
        "connector_type string, commissioned_ts timestamp, decommissioned_ts timestamp"
    ),
    "dim_chargers": "charger_id string, location_id string",
}


def load_unit_tests(*paths: Path) -> dict[str, dict]:
    """The unit tests of every given unit_tests.yml, by name. A file
    that is absent (no reference checkout) contributes nothing."""
    return {
        t["name"]: t
        for path in paths
        if path.exists()
        for t in yaml.safe_load(path.read_text())["unit_tests"]
    }


def unit_test_params(names: list[str]) -> list:
    """Parametrize values for the YAML-driven cases: ``names``, or, when
    no unit test was loaded, one case that skips and says why."""
    return names or [pytest.param(None, id="no_unit_tests_yml", marks=pytest.mark.skip(
        reason=f"no unit_tests.yml under {REFERENCE / 'models'}"))]


def _prep_sql(sql: str) -> str:
    # Dialect shims for the handful of non-DuckDB spellings in the yml.
    sql = sql.replace("cast(null as array)", "cast(null as varchar[])")
    return sql


def duck_rows(sql: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    cur = con.execute(_prep_sql(sql))
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def input_name(ref: str) -> str:
    m = re.match(r"ref\('([^']+)'\)", ref)
    return m.group(1) if m else ref  # "this" stays "this"


def build_input_df(spark, name: str, given: dict, *, ignore_unknown: bool = False):
    """Build a Spark DataFrame for one `given` input using its declared
    schema, padding unspecified columns with null (dbt semantics).

    ignore_unknown drops mock columns absent from the model schema instead
    of asserting — needed only for the upstream-disabled merge-fill test,
    whose `this` mock carries a stale `confirmation_ingested_ts` column
    (the likely reason it is config.enabled:false in the reference)."""
    schema_ddl = INPUT_SCHEMAS[name]
    if given.get("fixture"):
        cols, rows = duck_rows((FIXTURE_DIR / f"{given['fixture']}.sql").read_text())
    elif isinstance(given.get("rows"), str):
        cols, rows = duck_rows(given["rows"])
    else:
        dict_rows = given.get("rows") or []
        cols = sorted({k for r in dict_rows for k in r})
        rows = [tuple(r.get(c) for c in cols) for r in dict_rows]

    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(schema_ddl)
    field_names = [f.name for f in schema.fields]
    idx = {c: i for i, c in enumerate(cols)}
    unknown = set(cols) - set(field_names)
    if ignore_unknown:
        idx = {c: i for c, i in idx.items() if c not in unknown}
    else:
        assert not unknown, f"{name}: mock has columns not in schema: {unknown}"

    def conv(v, field):
        if v is None:
            return None
        t = field.dataType.simpleString()
        if t.startswith("decimal") and not isinstance(v, Decimal):
            return Decimal(str(v))
        if t == "timestamp" and isinstance(v, str):
            return dt.datetime.fromisoformat(v)
        if t in ("int", "bigint") and isinstance(v, Decimal):
            return int(v)
        if t == "double" and isinstance(v, (Decimal, int)):
            return float(v)
        return v

    data = [
        tuple(
            conv(r[idx[f.name]], f) if f.name in idx else None
            for f in schema.fields
        )
        for r in rows
    ]
    return spark.createDataFrame(data, schema)


def normalize_value(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def rows_match(expected: list[dict], actual_rows: list) -> tuple[bool, str]:
    """dbt semantics: actual must have exactly len(expected) rows and the
    expected column subsets must match as a multiset."""
    if len(expected) != len(actual_rows):
        return False, f"row count: expected {len(expected)}, got {len(actual_rows)}"
    if not expected:
        return True, ""
    cols = list(expected[0].keys())

    def key(d):
        out = []
        for c in cols:
            v = normalize_value(d[c] if isinstance(d, dict) else d[c])
            if isinstance(v, float):
                v = round(v, 6)
            if isinstance(v, str) and re.match(r"^\d{4}-\d{2}-\d{2}[ T]", v):
                v = v.replace("T", " ")[:19]
            out.append((c, v))
        return tuple(out)

    exp = sorted((key(r) for r in expected), key=repr)
    act = sorted((key(r.asDict()) for r in actual_rows), key=repr)
    if exp != act:
        return False, f"expected {exp}\n  actual {act}"
    return True, ""
