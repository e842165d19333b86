"""Structured Streaming variants of the OCPP pipeline core.

The reference is batch/incremental only (SURVEY §2.9); its analogues map
directly onto Structured Streaming primitives, which is what a live
deployment of this engine would run between the incremental batch runs:

- 30-min late-data buffer            → `withWatermark`
- request↔confirmation ≤15 s join   → stream-stream join with event-time
  bound (int_status_changes.sql:80-84)
- lag()-based status change-points  → per-key state via
  `applyInPandasWithState` (int_status_changes.sql:164-189)
- 15-min interval aggregation        → windowed agg with watermark
  (fact_interval_data.sql:54-63)

Every transformation here accepts the staged stream (same envelope-split
expressions as the batch `stg_ocpp_logs` — row-wise, streaming-safe) and
returns an unbounded DataFrame; callers pick sink/trigger/output mode.
Scale notes: state is keyed by (charger_id, connector_id) — partition
count = key cardinality, no global state; the stream-stream join keys on
unique_id with watermarked buffers on both sides, so executor state is
bounded by (rate × watermark).
"""

from __future__ import annotations

from decimal import Decimal
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kwwhat_spark.config import VARS, PipelineVars
from kwwhat_spark.models.base import Pipeline
from kwwhat_spark.models.meter_values import _meter_measurements
from kwwhat_spark.models.payload import parsed_payload
from kwwhat_spark.models.visits import mart_columns, visit_attempts
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.sources.ocpp import OCPP_LOGS_SCHEMA


def read_ocpp_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of raw OCPP log CSVs (same schema as the batch
    reader; swap for Kafka/Kinesis by replacing this reader only)."""
    reader = (
        spark.readStream.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema(OCPP_LOGS_SCHEMA)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(path)


def stage_stream(raw: DataFrame, vars: PipelineVars = VARS) -> DataFrame:
    """Envelope split — value-identical to batch stg_ocpp_logs
    (stg_ocpp_logs.sql:14-36) by construction: both twins build their
    columns from models/staging.envelope_columns (regex fast path with
    per-row JSON-parse fallback, r12); row-wise, so streaming-safe."""
    from kwwhat_spark.models.staging import split_envelope

    return split_envelope(raw, vars)


def stream_request_confirmations(
    staged: DataFrame,
    vars: PipelineVars = VARS,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-stream correlation of CALLs with their CALLRESULTs on
    unique_id within [0, +15 s] (int_status_changes.sql:80-84). Both
    sides are watermarked, so Spark bounds the join buffers; unmatched
    requests age out after the watermark."""
    requests = (
        staged.filter(
            (F.col("message_type_id") == vars.call_message_type_id)
            & F.col("action").isNotNull()
        )
        .select(
            F.col("charger_id").alias("req_charger_id"),
            "action",
            F.col("unique_id").alias("req_unique_id"),
            F.col("ingested_timestamp").alias("req_ts"),
            F.col("payload").alias("req_payload"),
        )
        .withWatermark("req_ts", watermark)
    )
    confirmations = (
        staged.filter(F.col("message_type_id") == vars.callresult_message_type_id)
        .select(
            F.col("unique_id").alias("conf_unique_id"),
            F.col("ingested_timestamp").alias("conf_ts"),
            F.col("payload").alias("conf_payload"),
        )
        .withWatermark("conf_ts", watermark)
    )
    return requests.join(
        confirmations,
        (F.col("req_unique_id") == F.col("conf_unique_id"))
        & (F.col("conf_ts") >= F.col("req_ts"))
        & (
            F.col("conf_ts")
            <= F.col("req_ts")
            + F.expr(f"interval {vars.message_response_interval_seconds} seconds")
        ),
        "inner",
    ).select(
        F.col("req_charger_id").alias("charger_id"),
        "action",
        F.col("req_unique_id").alias("unique_id"),
        F.col("req_ts").alias("ingested_ts"),
        "req_payload",
        F.col("conf_ts").alias("confirmation_ingested_ts"),
        "conf_payload",
    )


_STATUS_OUT_SCHEMA = (
    "charger_id string, connector_id string, ingested_ts timestamp, "
    "status string, error_code string, payload_ts timestamp, "
    "previous_status string, previous_ingested_ts timestamp"
)
_STATUS_STATE_SCHEMA = "last_status string, last_ingested_ts timestamp"


def _status_change_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(charger, connector) change-point detection: the streaming
    equivalent of lag(status) + `status != previous` filter
    (int_status_changes.sql:164-189). State = last seen (status, ts)."""
    last_status, last_ts = state.get if state.exists else (None, None)
    out = []
    # Materialize ALL of this key's chunks before sorting: a key whose
    # batch data exceeds the Arrow batch size arrives as MULTIPLE pdfs
    # in arbitrary post-shuffle order, so sorting each chunk
    # independently does not establish per-key time order (regression:
    # tests/test_streaming.py multi-chunk case). Memory is bounded by
    # one key's rows per micro-batch — the same bound _visit_fn and
    # _chain_fn already accept for their cross-chunk sorts.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        merged = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        merged = merged.sort_values("ingested_ts", kind="mergesort")
        for row in merged.itertuples(index=False):
            if row.status != last_status:
                out.append(
                    (
                        key[0],
                        key[1],
                        row.ingested_ts,
                        row.status,
                        row.error_code,
                        row.payload_ts,
                        last_status,
                        last_ts,
                    )
                )
            last_status, last_ts = row.status, row.ingested_ts
    state.update((last_status, last_ts))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "charger_id", "connector_id", "ingested_ts", "status",
                "error_code", "payload_ts", "previous_status",
                "previous_ingested_ts",
            ],
        )


def stream_status_changes(staged: DataFrame, vars: PipelineVars = VARS) -> DataFrame:
    """Stateful status change-points per connector. Arrow-batched state
    function; state size = one (status, ts) pair per connector.

    Ordering contract: rows are time-sorted per key WITHIN each
    micro-batch (across all Arrow chunks); ACROSS batches rows process
    in arrival order, so exact parity with the batch lag() compile
    holds when per-key arrival is batch-monotone (true for file
    replays and the fleet harnesses). A row arriving after a
    later-timestamped row of its key in an earlier batch is treated as
    a change-point on arrival — the standard on-arrival semantics;
    late-data tolerance belongs to the watermarked operators."""
    events = staged.filter(
        (F.col("action") == "StatusNotification")
        & (F.col("message_type_id") == vars.call_message_type_id)
    ).withColumn(
        "__pj", parsed_payload()
    ).select(
        "charger_id",
        F.col("__pj.connectorId").cast("string").alias("connector_id"),
        F.col("ingested_timestamp").alias("ingested_ts"),
        F.col("__pj.status").alias("status"),
        F.col("__pj.errorCode").alias("error_code"),
        F.col("__pj.timestamp").cast("timestamp").alias("payload_ts"),
    )
    return events.groupBy("charger_id", "connector_id").applyInPandasWithState(
        _status_change_fn,
        outputStructType=_STATUS_OUT_SCHEMA,
        stateStructType=_STATUS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_visit_sessions(
    staged: DataFrame,
    vars: PipelineVars = VARS,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Charge-activity sessions per charger via `F.session_window` — the
    streaming analogue of the batch visit grouping's gaps-and-islands
    (SURVEY §2.9: session windows done in batch). A session extends while
    consecutive charge-flow events arrive within `gap_minutes`; the
    watermark closes sessions once event time passes end+gap.

    Exact parity with the batch fact_visits mart is not the contract here
    (visits chain on attempt stop→start with boundary-minute semantics);
    this is the canonical streaming sessionization over the same event
    stream, validated against an independent batch gaps-and-islands
    computation in tests.
    """
    events = staged.filter(
        (F.col("message_type_id") == vars.call_message_type_id)
        & F.col("action").isin(list(vars.transaction_actions))
    ).select(
        "charger_id",
        F.col("ingested_timestamp").alias("event_ts"),
        "action",
    )
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(
            F.session_window("event_ts", f"{gap_minutes} minutes").alias("session"),
            "charger_id",
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("event_ts").alias("first_event_ts"),
            F.max("event_ts").alias("last_event_ts"),
            F.sort_array(F.collect_set("action")).alias("actions"),
        )
        .select(
            "charger_id",
            F.col("session.start").alias("session_start_ts"),
            "first_event_ts",
            "last_event_ts",
            "event_count",
            "actions",
        )
    )


def stream_interval_data(
    staged: DataFrame,
    vars: PipelineVars = VARS,
    watermark: str = "30 minutes",
    exact_avg: bool = False,
) -> DataFrame:
    """15-minute interval averages per (charger, connector, measurand,
    unit, phase) over MeterValues sampled values — F.window gives exactly
    the reference's bucket starts (fact_interval_data.sql:54-63); the
    watermark is the streaming form of the 30-min late-data buffer.

    exact_avg=True computes the average as an integer-hundredths long
    sum cast to double once (order-independent, so cross-engine
    bit-identical — the driver-gate determinism contract); the default
    float avg matches the reference mart's FLOAT semantics."""
    measurements = _meter_measurements(
        staged.select(
            "charger_id",
            "action",
            F.col("ingested_timestamp").alias("ingested_ts"),
            "message_type_id",
            "payload",
        )
    ).filter(F.col("value").isNotNull() & (F.col("value") != ""))
    grouped = (
        measurements.withColumn(
            "meter_ts", F.coalesce("meter_timestamp", "log_ingested_ts")
        )
        .withWatermark("meter_ts", watermark)
        .groupBy(
            F.window("meter_ts", "15 minutes").alias("interval"),
            "charger_id",
            "connector_id",
            "measurand",
            "unit",
            "phase",
        )
    )
    if exact_avg:
        agged = grouped.agg(
            F.sum(F.round(F.col("value").cast("double") * 100, 0).cast("long")).alias("_s"),
            F.count(F.lit(1)).alias("measurement_count"),
        ).withColumn(
            "avg_value",
            F.col("_s").cast("double") / 100.0 / F.col("measurement_count"),
        )
    else:
        agged = grouped.agg(
            F.avg(F.col("value").cast("double")).alias("avg_value"),
            F.count(F.lit(1)).alias("measurement_count"),
        )
    return agged.select(
        F.col("interval.start").alias("interval_start_ts"),
        F.col("interval.end").alias("interval_stop_ts"),
        "charger_id",
        "connector_id",
        "measurand",
        "unit",
        "phase",
        "avg_value",
        "measurement_count",
    )


# ---------------------------------------------------------------------------
# fact_visits PARITY stream (VERDICT r7 item 2): the batch mart's exact
# two-step sessionization as two chained stateful stages — the
# production topology is attempts-topic -> chains -> visits-topic, each
# stage an applyInPandasWithState over one key:
#
#   stage 1, key (charger_id, port_id): chain attempts whose stop->start
#     minute-boundary gap is <= 2 and whose id_tags don't conflict
#     (fact_visits.sql:57-138); a chain FLUSHES (emitting every member
#     attempt with the retroactively inferred max id_tag) when a new
#     chain starts behind it, or on event-time timeout once the
#     watermark passes last-event + 2 min.
#   stage 2, key grouping_key (location+id_tag @30 min when
#     authenticated, location+charger+port @2 min otherwise,
#     fact_visits.sql:141-273): roll chained attempts into visits, emit
#     a visit when its successor starts or on timeout past
#     last-event + window.
#
# Both stages are one skeleton (_sessions) with their own split rule.
# State is a JSON-encoded attempt buffer (bounded by one open
# chain/visit per key); timestamps ride as epoch microseconds. The gap
# uses MINUTE-BOUNDARY crossings (datediff_boundary semantics:
# floor-to-minute deltas), identical to the batch mart.
# ---------------------------------------------------------------------------

_PARITY_ATT_FIELDS = [
    "charge_attempt_id", "charger_id", "port_id", "connector_id",
    "location_id", "start_us", "stop_us", "energy", "ok", "id_tag",
]
_PARITY_ATT_COLUMNS = {
    "start_us": "charge_attempt_start_ts", "stop_us": "charge_attempt_stop_ts",
    "energy": "energy_transferred_kwh", "ok": "is_successful",
}

# An attempt row of either topic: the input of both stages, and the
# output of stage 1 (the id_tag then being its chain's inferred one).
_ATTEMPT_SCHEMA = (
    "charge_attempt_id string, charger_id string, port_id string, "
    "connector_id string, location_id string, "
    "charge_attempt_start_ts timestamp, charge_attempt_stop_ts timestamp, "
    "energy_transferred_kwh double, is_successful boolean, id_tag string"
)
_JS_STATE_SCHEMA = "js string"


def _ts_us(v):
    return None if v is None or pd.isna(v) else int(pd.Timestamp(v).value // 1000)


def _us_ts(us):
    return pd.NaT if us is None else pd.Timestamp(us * 1000)


def _minute_gap(prev_stop_us: int, start_us: int) -> int:
    """date_diff('minute', ...) boundary-crossing semantics on epoch
    micros (UTC minutes are epoch-aligned)."""
    return start_us // 60_000_000 - prev_stop_us // 60_000_000


def _rows_from_batches(pdfs, cols: list[str]):
    out = []
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            d = {}
            for c in cols:
                v = getattr(row, _PARITY_ATT_COLUMNS.get(c, c))
                d[c] = _ts_us(v) if c.endswith("_us") else (None if pd.isna(v) else v)
            out.append(d)
    return out


def _gap_over(prev: dict, r: dict, minutes: int) -> bool:
    """No chain from ``prev`` to ``r``: ``prev`` never stopped, or more
    than ``minutes`` minute boundaries lie between its stop and r's start."""
    return prev["stop_us"] is None or _minute_gap(prev["stop_us"], r["start_us"]) > minutes


def _sessions(pdfs, state: GroupState, cols: list[str], is_start, hold_minutes):
    """One key's step of either stage: merge the buffered open group with
    this batch's rows (ALL Arrow chunks before the sort), sort by start,
    split before every row where ``is_start(prev, row)``, and return the
    closed groups. The last group stays open in state with an event-time
    timeout at its last event + ``hold_minutes(group)``; when that
    timeout fires, every group closes."""
    import json

    buf = json.loads(state.get[0]) if state.exists else []
    rows = sorted(buf + _rows_from_batches(pdfs, cols), key=lambda r: r["start_us"])
    groups: list[list[dict]] = []
    for r in rows:
        if groups and not is_start(groups[-1][-1], r):
            groups[-1].append(r)
        else:
            groups.append([r])
    if state.hasTimedOut or not groups:
        state.remove()
        return groups
    open_group = groups.pop()
    state.update((json.dumps(open_group),))
    last_ev = max(r["stop_us"] or r["start_us"] for r in open_group)
    state.setTimeoutTimestamp(last_ev // 1000 + hold_minutes(open_group) * 60 * 1000)
    return groups


def _chain_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Stage 1: emit closed id-tag-inference chains (every member
    attempt with the chain's max id_tag fused on)."""
    chains = _sessions(
        pdfs, state, _PARITY_ATT_FIELDS,
        lambda prev, r: _gap_over(prev, r, 2) or (
            r["id_tag"] is not None
            and prev["id_tag"] is not None
            and r["id_tag"] != prev["id_tag"]
        ),
        lambda chain: 2,
    )
    out = []
    for chain in chains:
        tags = [r["id_tag"] for r in chain if r["id_tag"] is not None]
        inferred = max(tags) if tags else None
        for r in chain:
            out.append(
                (
                    r["charge_attempt_id"], r["charger_id"], r["port_id"],
                    r["connector_id"], r["location_id"],
                    _us_ts(r["start_us"]), _us_ts(r["stop_us"]),
                    r["energy"], r["ok"], inferred,
                )
            )
    if out:
        yield pd.DataFrame(out, columns=_schema_names(_ATTEMPT_SCHEMA))


_VISIT_OUT_SCHEMA = (
    "grouping_key string, time_window_minutes int, visit_start_ts timestamp, "
    "id_tag string, location_id string, visit_end_ts timestamp, "
    "charge_attempt_count long, charge_attempt_ids string, charger_ids string, "
    "total_energy_transferred_kwh double, is_successful boolean, "
    "first_charge_attempt_id string, last_charge_attempt_id string, "
    "first_charger_id string, last_charger_id string, "
    "first_port_id string, last_port_id string"
)


def _schema_fields(ddl: str) -> list[list[str]]:
    return [f.split(" ") for f in ddl.split(", ")]


def _schema_names(ddl: str) -> list[str]:
    return [name for name, _ in _schema_fields(ddl)]


def _visit_rollup(key_gk: str, visit: list[dict]) -> tuple:
    """One closed visit -> the batch mart's rollup row
    (fact_visits.sql:141-273 aggregate semantics)."""
    start_us = visit[0]["start_us"]
    firsts = [r for r in visit if r["start_us"] == start_us]
    last = visit[-1]
    stops = [r["stop_us"] for r in visit if r["stop_us"] is not None]
    tags = [r["id_tag"] for r in visit if r["id_tag"] is not None]
    att_ids = sorted({r["charge_attempt_id"] for r in visit})
    charger_ids = sorted({r["charger_id"] for r in visit})
    return (
        key_gk,
        visit[0]["window_min"],
        _us_ts(start_us),
        max(tags) if tags else None,
        max(r["location_id"] for r in visit),
        _us_ts(max(stops) if stops else None),
        len(visit),
        "|".join(att_ids),
        "|".join(charger_ids),
        # The mart sums the attempts' decimal kWh exactly, then rounds
        # once; a float sum is off by an ulp on some visits. str() gives
        # back the decimal each topic double was cast from.
        float(sum(Decimal(str(r["energy"])) for r in visit if r["energy"] is not None)),
        last["ok"],
        min(r["charge_attempt_id"] for r in firsts),
        last["charge_attempt_id"],
        min(r["charger_id"] for r in firsts),
        last["charger_id"],
        min(r["port_id"] for r in firsts),
        last["port_id"],
    )


def _visit_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Stage 2: roll chained attempts into visits per grouping_key."""
    visits = _sessions(
        pdfs, state, _PARITY_ATT_FIELDS + ["window_min"],
        lambda prev, r: _gap_over(prev, r, r["window_min"]),
        lambda visit: visit[0]["window_min"],
    )
    out = [_visit_rollup(key[0], v) for v in visits]
    if out:
        yield pd.DataFrame(out, columns=_schema_names(_VISIT_OUT_SCHEMA))


def stream_visit_chains(attempts: DataFrame) -> DataFrame:
    """Stage 1 as a streaming transform: watermarked on
    coalesce(stop, start), keyed (charger_id, port_id)."""
    wm = attempts.withColumn(
        "ev_ts", F.coalesce("charge_attempt_stop_ts", "charge_attempt_start_ts")
    ).withWatermark("ev_ts", "0 seconds")
    return wm.groupBy("charger_id", "port_id").applyInPandasWithState(
        _chain_fn,
        outputStructType=_ATTEMPT_SCHEMA,
        stateStructType=_JS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_visit_parity(chained: DataFrame) -> DataFrame:
    """Stage 2 as a streaming transform: derive grouping_key + window
    from the inferred id_tag (fact_visits.sql:141-162), watermark on
    coalesce(stop, start), keyed by grouping_key."""
    keyed = chained.select(
        "*",
        F.when(
            F.col("id_tag").isNotNull(),
            F.concat_ws("_", "location_id", "id_tag"),
        )
        .otherwise(F.concat_ws("_", "location_id", "charger_id", "port_id"))
        .alias("grouping_key"),
        F.when(F.col("id_tag").isNotNull(), F.lit(30))
        .otherwise(F.lit(2))
        .alias("window_min"),
    ).withColumn(
        "ev_ts", F.coalesce("charge_attempt_stop_ts", "charge_attempt_start_ts")
    ).withWatermark("ev_ts", "0 seconds")
    return keyed.groupBy("grouping_key").applyInPandasWithState(
        _visit_fn,
        outputStructType=_VISIT_OUT_SCHEMA,
        stateStructType=_JS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def await_available_now(q: StreamingQuery, timeout_s: int) -> None:
    """Wait for the availableNow query ``q`` to finish. On timeout stop
    it and raise TimeoutError, so no caller reads a partial sink."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"availableNow stream {q.name or q.id} still running after {timeout_s}s; "
            "refusing to read a partially-populated sink"
        )


# One bound for both visit stages: a fleet-scale stage runs for minutes.
_VISIT_STAGE_TIMEOUT_S = 1800
_FLUSH = "__FLUSH__"


def _append_flush_row(spark: SparkSession, path: str, ts) -> None:
    """Append the finalization sentinel to the attempt topic at ``path``:
    one attempt of its own charger, port and location at event time
    ``ts``. Its chain or visit stays open, so it never reaches a sink."""
    spark.createDataFrame(
        [(_FLUSH, _FLUSH, _FLUSH, "0", _FLUSH, ts, ts, 0.0, False, None)], _ATTEMPT_SCHEMA
    ).write.mode("append").parquet(path)


def _peak_state_rows(q: StreamingQuery) -> int:
    """Peak state rows over ALL of ``q``'s progress events: with the
    flush, the last batch has emptied the state."""
    return max(
        [s.get("numRowsTotal", 0)
         for pr in q.recentProgress or [] for s in pr.get("stateOperators") or []],
        default=0,
    )


def run_visit_stream(p: Pipeline, flush: bool) -> tuple[DataFrame, dict]:
    """fact_visits as the chained visit stream: ``p``'s visit attempts
    (models/visits.py visit_attempts) written as a parquet topic ->
    stream_visit_chains -> the chains re-staged into a plain directory
    -> stream_visit_parity -> memory sink, each stage one availableNow
    run with watermark 0 s, projected to mart_columns and checkpointed.

    Without ``flush`` the output is append mode's: a chain or visit
    still open at the final watermark is withheld. With ``flush`` a
    sentinel attempt two days past the last event is appended to each
    stage's input; it moves the watermark past every real tail, the
    no-data batch fires every timeout, and the output equals
    fact_visits minus incremental_ts. Stage 2 gets its own sentinel
    (the chain stage never emits the sentinel's open chain), and it
    cannot go into the stage-1 sink directory: a file stream source
    reads the sink's _spark_metadata log when one is present and would
    never see a foreign file (found live: two tail visits stayed open).
    Hence the re-staged topic.

    Also returns the run's figures: ``attempt_rows``,
    ``compile_attempts_s`` (attempts built and written), the stage
    walls ``chains_s`` / ``visits_s`` and their peak state rows
    ``chains_state_rows`` / ``visits_state_rows``."""
    import datetime
    import shutil
    import tempfile
    import time
    import uuid

    spark = p.spark
    root = tempfile.mkdtemp(prefix="kwh-visits-")
    name = f"stream_visits_{uuid.uuid4().hex[:8]}"
    try:
        t0 = time.perf_counter()
        att, _ = visit_attempts(p)
        att.select(
            *[F.col(c).cast(t).alias(c) for c, t in _schema_fields(_ATTEMPT_SCHEMA)]
        ).write.parquet(f"{root}/attempts")
        n_attempts, last_ev = spark.read.parquet(f"{root}/attempts").agg(
            F.count(F.lit(1)),
            F.max(F.coalesce("charge_attempt_stop_ts", "charge_attempt_start_ts")),
        ).first()
        flush_ts = last_ev + datetime.timedelta(days=2) if flush and last_ev else None
        if flush_ts:
            _append_flush_row(spark, f"{root}/attempts", flush_ts)
        stats = {"attempt_rows": n_attempts,
                 "compile_attempts_s": round(time.perf_counter() - t0, 2)}

        def stage(label, transform, src, sink):
            t = time.perf_counter()
            q = sink(transform(
                spark.readStream.schema(_ATTEMPT_SCHEMA).parquet(src)
            ).writeStream.outputMode("append").trigger(availableNow=True)).start()
            await_available_now(q, _VISIT_STAGE_TIMEOUT_S)
            stats[f"{label}_s"] = round(time.perf_counter() - t, 2)
            stats[f"{label}_state_rows"] = _peak_state_rows(q)

        stage("chains", stream_visit_chains, f"{root}/attempts",
              lambda w: w.format("parquet").option("path", f"{root}/chained")
              .option("checkpointLocation", f"{root}/ckpt1"))
        spark.read.schema(_ATTEMPT_SCHEMA).parquet(f"{root}/chained").write.parquet(
            f"{root}/chained_in")
        if flush_ts:
            _append_flush_row(spark, f"{root}/chained_in", flush_ts)
        stage("visits", stream_visit_parity, f"{root}/chained_in",
              lambda w: w.format("memory").queryName(name))

        out = keep(
            spark.table(name).filter(F.col("location_id") != _FLUSH)
            .select(*mart_columns()).localCheckpoint(eager=True)
        )
        spark.catalog.dropTempView(name)
        return out, stats
    finally:
        shutil.rmtree(root, ignore_errors=True)
