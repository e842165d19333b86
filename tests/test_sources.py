"""Source-format coverage: JSONL and parquet raw-log readers produce the
same staged output as the CSV reader."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import Pipeline
from kwwhat_spark.sources.ocpp import (
    load_ocpp_sources,
    read_ocpp_logs_json,
    read_ocpp_logs_parquet,
)


@pytest.fixture(scope="module")
def csv_sources(spark, one_charger_fleet):
    return load_ocpp_sources(spark, one_charger_fleet)


@pytest.fixture(scope="module")
def raw_rows(csv_sources):
    return csv_sources["raw_ocpp_logs"].collect()


def _staged_rows(spark, csv_sources, logs_df):
    pipe = Pipeline(spark=spark, sources={**csv_sources, "raw_ocpp_logs": logs_df})
    return sorted(
        (r["charger_id"], r["ingested_timestamp"], r["message_type_id"],
         r["unique_id"], r["payload"])
        for r in pipe.ref("stg_ocpp_logs").collect()
    )


def test_jsonl_reader_matches_csv(spark, csv_sources, raw_rows, tmp_path):
    path = tmp_path / "logs.jsonl"
    with open(path, "w") as f:
        for r in raw_rows:
            f.write(json.dumps(
                {"timestamp": r["timestamp"], "id": r["id"],
                 "action": r["action"], "msg": r["msg"]}) + "\n")
    jdf = read_ocpp_logs_json(spark, str(path))
    assert jdf.count() == len(raw_rows)
    assert _staged_rows(spark, csv_sources, jdf) == _staged_rows(
        spark, csv_sources, csv_sources["raw_ocpp_logs"]
    )


def test_callerror_extraction_flag(spark, csv_sources):
    import dataclasses

    from kwwhat_spark.config import VARS

    rows = [
        ("2025-11-01T10:00:00.000Z", "CH-1", "Heartbeat",
         '[2, "u1", "Heartbeat", {}]'),
        ("2025-11-01T10:00:00.500Z", "CH-1", "",
         '[3, "u1", {"currentTime": "2025-11-01T10:00:00Z"}]'),
        ("2025-11-01T10:00:01.000Z", "CH-1", "",
         '[4, "u2", "InternalError", "Charger fault", {"detail": "x"}]'),
    ]
    logs = spark.createDataFrame(
        rows, "timestamp string, id string, action string, msg string"
    )

    # Flag off (default): reference parity — no error columns, type-4
    # payload null (stg_ocpp_logs.sql:30-36).
    base = Pipeline(spark=spark, sources={**csv_sources, "raw_ocpp_logs": logs})
    staged = base.ref("stg_ocpp_logs")
    assert "error_code" not in staged.columns
    t4 = staged.filter(F.col("message_type_id") == "4").collect()
    assert len(t4) == 1 and t4[0]["payload"] is None

    # Flag on: errorCode/errorDescription/errorDetails surfaced for
    # type-4 rows only (seeds/prompt.txt:13 envelope).
    on = Pipeline(
        spark=spark,
        sources={**csv_sources, "raw_ocpp_logs": logs},
        vars=dataclasses.replace(VARS, extract_callerror=True),
    )
    got = {r["unique_id"]: r for r in on.ref("stg_ocpp_logs").collect()}
    err = got["u2"]
    assert err["error_code"] == "InternalError"
    assert err["error_description"] == "Charger fault"
    assert json.loads(err["error_details"]) == {"detail": "x"}
    assert err["payload"] is None
    assert got["u1"]["error_code"] is None


def test_parquet_reader_matches_csv(spark, csv_sources, tmp_path):
    path = str(tmp_path / "logs_parquet")
    csv_sources["raw_ocpp_logs"].write.parquet(path)
    pdf = read_ocpp_logs_parquet(spark, path)
    assert _staged_rows(spark, csv_sources, pdf) == _staged_rows(
        spark, csv_sources, csv_sources["raw_ocpp_logs"]
    )
