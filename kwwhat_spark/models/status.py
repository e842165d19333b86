"""Status pipeline: connector status change-points + latest snapshot.

Reference: int_status_changes.sql (change-point detection over
StatusNotification CALLs with request↔confirmation correlation),
int_connector_latest_status.sql (latest open row per connector).

Spark shape: one scan of the windowed log batch feeds both the request
set and the confirmation set (self-join on unique_id + [0,15 s] band);
the lag → change-filter → lead chain shares a single (charger_id,
connector_id) window partitioning, so the whole enrichment is one
shuffle. int_connectors is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline, model
from kwwhat_spark.models.payload import correlate, gate, parsed_payload


@model("int_status_changes", unique_key=["charger_id", "connector_id", "ingested_ts"],
       cluster_by="ingested_ts")
def int_status_changes(p: Pipeline) -> DataFrame:
    logs, int_connectors = p.refs("stg_ocpp_logs", "int_connectors")
    from_ts, buffer_from, to_ts = p.window(
        "int_status_changes", buffer_minutes=30, from_caps=[(logs, "ingested_timestamp")]
    )

    ocpp_logs = logs.select(
        "charger_id", "action", "ingested_timestamp", "message_type_id", "payload", "unique_id"
    ).filter(
        (F.col("ingested_timestamp") > F.lit(from_ts))
        & (F.col("ingested_timestamp") <= F.lit(to_ts))
    )
    # Batch watermark over the WHOLE windowed batch (all actions), appended
    # as a literal — int_status_changes.sql:36-40.
    incremental_ts = p.scalar_max(ocpp_logs, "ingested_timestamp")

    # The raw payload TEXT does not enter the correlation join or the
    # lag/lead windows: the uid join fans each request to one row per
    # in-window retry copy of its confirmation (dense same-id bursts in
    # real logs — measured here as the dominant cost of this model at
    # the 2000× fleet), and a ~300 B JSON string materialized into every
    # fanout copy turns a narrow correlation into tens of GB of shuffle
    # and sort traffic. The output's payload column is re-attached 1:1
    # AFTER the change filter via (charger_id, unique_id, ingested_ts).
    # That triple is NOT assumed unique in the raw log: at-least-once
    # delivery / uid-reuse bursts can duplicate a CALL row verbatim, and
    # a 1:many lookup would fan out exactly the change rows the lag
    # filter just collapsed. The lookup is therefore aggregated to one
    # row per triple (min payload — deterministic under exact-duplicate
    # rows, and a stable tie-break if payloads ever differ), making the
    # join provably 1:1. Map-side combinable, so the dedup costs one
    # combiner pass, not a shuffle of payload text per duplicate.
    req_all = ocpp_logs.filter(
        (F.col("action") == "StatusNotification")
        & (F.col("message_type_id") == p.vars.call_message_type_id)
    )
    payload_lookup = (
        req_all.groupBy(
            F.col("charger_id").alias("__pl_charger_id"),
            F.col("unique_id").alias("__pl_unique_id"),
            F.col("ingested_timestamp").alias("__pl_ingested_ts"),
        )
        .agg(F.min("payload").alias("__pl_payload"))
    )
    req = req_all.withColumn("__pj", parsed_payload()).select(
        "ingested_timestamp", "charger_id", "unique_id", "action",
        gate("StatusNotification", "__pj.connectorId").alias("connector_id"),
        gate("StatusNotification", "__pj.status").alias("status"),
        gate("StatusNotification", "__pj.errorCode").alias("error_code"),
        gate(["StatusNotification", "StartTransaction", "StopTransaction"], "__pj.timestamp")
        .cast("timestamp").alias("payload_ts"),
    )

    connectors = int_connectors.select("charger_id", "connector_id", "port_id")
    with_conf = correlate(
        req.join(F.broadcast(connectors), ["charger_id", "connector_id"], "left"),
        ocpp_logs, p.vars.message_response_interval_seconds,
        p.vars.callresult_message_type_id, ts="ingested_timestamp",
    ).select(
        "charger_id",
        "connector_id",
        "port_id",
        F.col("ingested_timestamp").alias("ingested_ts"),
        "unique_id",
        "status",
        "error_code",
        "payload_ts",
        F.col("conf_ingested_ts").alias("confirmation_ingested_ts"),
    )

    # New rows carry null previous_*; in incremental mode the buffer
    # (open rows from the prior state, next_status null, inside the
    # look-back window) is unioned in WITH its stored previous_* so the
    # lag window can stitch across the batch boundary
    # (int_status_changes.sql:90-146).
    base_cols = [
        "charger_id", "connector_id", "port_id", "ingested_ts", "unique_id",
        "status", "error_code", "payload_ts", "confirmation_ingested_ts",
    ]
    # __buf_payload: buffer rows (prior state) carry their stored payload
    # through the stitch; new rows re-attach theirs from payload_lookup
    # after the change filter (see coalesce at the end).
    with_null_prev = with_conf.select(
        *base_cols,
        F.lit(None).cast("string").alias("__buf_payload"),
        F.lit(None).cast("string").alias("previous_status"),
        F.lit(None).cast("timestamp").alias("previous_ingested_ts"),
        F.lit(None).cast("timestamp").alias("previous_payload_ts"),
    )
    if p.is_incremental("int_status_changes"):
        buffer = (
            p.this("int_status_changes")
            .filter(
                (F.col("ingested_ts") >= F.lit(buffer_from))
                & (F.col("ingested_ts") <= F.lit(from_ts))
                & F.col("next_status").isNull()
            )
            .select(
                *base_cols,
                F.col("payload").alias("__buf_payload"),
                "previous_status", "previous_ingested_ts", "previous_payload_ts",
            )
        )
        statuses_with_buffer = with_null_prev.unionByName(buffer)
    else:
        statuses_with_buffer = with_null_prev

    w = W.partitionBy("charger_id", "connector_id").orderBy("ingested_ts")
    with_lag = statuses_with_buffer.select(
        *base_cols,
        "__buf_payload",
        F.coalesce("previous_status", F.lag("status").over(w)).alias("previous_status"),
        F.coalesce("previous_ingested_ts", F.lag("ingested_ts").over(w)).alias(
            "previous_ingested_ts"
        ),
        F.coalesce("previous_payload_ts", F.lag("payload_ts").over(w)).alias(
            "previous_payload_ts"
        ),
    )
    changes = with_lag.filter(
        F.col("previous_status").isNull() | (F.col("previous_status") != F.col("status"))
    )
    # lead() over the CHANGE rows (not raw notifications) — next_* points at
    # the next change (int_status_changes.sql:191-205).
    with_lead = changes.select(
        "*",
        F.lead("status").over(w).alias("next_status"),
        F.lead("ingested_ts").over(w).alias("next_ingested_ts"),
        F.lead("payload_ts").over(w).alias("next_payload_ts"),
    )
    return (
        with_lead.join(
            payload_lookup,
            (F.col("charger_id") == F.col("__pl_charger_id"))
            & (F.col("unique_id") == F.col("__pl_unique_id"))
            & (F.col("ingested_ts") == F.col("__pl_ingested_ts")),
            "left",
        )
        .withColumn("payload", F.coalesce("__buf_payload", "__pl_payload"))
        .drop("__buf_payload", "__pl_charger_id", "__pl_unique_id",
              "__pl_ingested_ts", "__pl_payload")
        .withColumn("incremental_ts", F.lit(incremental_ts).cast("timestamp"))
    )


@model("int_connector_latest_status", unique_key=["charger_id", "connector_id", "port_id"])
def int_connector_latest_status(p: Pipeline) -> DataFrame:
    (changes,) = p.refs("int_status_changes")
    from_ts, _, _ = p.window("int_connector_latest_status")
    source = changes.filter(
        F.col("next_status").isNull() & (F.col("ingested_ts") >= F.lit(from_ts))
    )
    w_all = W.partitionBy()
    out = source.select(
        "charger_id",
        "connector_id",
        "port_id",
        F.col("status").alias("latest_status"),
        F.col("error_code").alias("latest_error_code"),
        F.col("ingested_ts").alias("latest_status_ts"),
        F.max("ingested_ts").over(w_all).alias("incremental_ts"),
    )
    # One row per merge key (charger, connector, port): in incremental mode
    # a stale open row from a prior batch (never closed because its
    # successor fell outside the 30-min look-back buffer,
    # int_status_changes.sql:90-109) can coexist with the current open row.
    # The reference's MERGE would see two source rows for one key —
    # nondeterministic; we resolve deterministically to the newest status.
    w_latest = W.partitionBy("charger_id", "connector_id", "port_id").orderBy(
        F.col("latest_status_ts").desc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w_latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
