"""Preparing-anchor assembly: charge-attempt context around each
connector 'Preparing' status change.

Reference: int_connector_preparing.sql — take Preparing rows from
int_status_changes, chain the charge-attempt actions whose ingestion falls
in (coalesce(previous_ingested, ingested), coalesce(next_ingested,
ingested)] on the same (charger, connector), correlate CALLRESULTs within
45 s, extract identity/transaction fields, aggregate into arrays per
anchor.

Faithful quirk: only actions that carry connectorId (StatusNotification,
StartTransaction, MeterValues, RemoteStartTransaction) can satisfy the
connector equality — Authorize/Stop* rows have null connector_id and never
chain (reference int_connector_preparing.sql:130-135 behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline, model
from kwwhat_spark.models.payload import connector_id, correlate, extract, gate, transaction_id


@model("int_connector_preparing", unique_key=["charger_id", "connector_id", "ingested_ts"],
       cluster_by="ingested_ts")
def int_connector_preparing(p: Pipeline) -> DataFrame:
    status_changes, logs, int_connectors, int_chargers = p.refs(
        "int_status_changes", "stg_ocpp_logs", "int_connectors", "int_chargers")
    # to_timestamp capped by upstream watermarks (int_connector_preparing.sql
    # to_timestamp_caps).
    from_ts, buffer_from, to_ts = p.window(
        "int_connector_preparing", buffer_minutes=30,
        to_caps=[(status_changes, "incremental_ts"), (logs, "ingested_timestamp")],
    )

    anchors = status_changes.filter(
        (F.col("ingested_ts") >= F.lit(buffer_from))
        & (F.col("ingested_ts") <= F.lit(to_ts))
        & (F.col("status") == "Preparing")
    ).select(
        "charger_id",
        "connector_id",
        "unique_id",
        "ingested_ts",
        "payload_ts",
        "status",
        "previous_status",
        "previous_ingested_ts",
        "previous_payload_ts",
        "next_status",
        "next_ingested_ts",
        "next_payload_ts",
        "error_code",
        "confirmation_ingested_ts",
    )
    incremental_ts = p.scalar_max(anchors, "ingested_ts")

    ocpp_logs = logs.select(
        "charger_id",
        "action",
        F.col("ingested_timestamp").alias("ingested_ts"),
        "message_type_id",
        "payload",
        "unique_id",
    ).filter(
        (F.col("ingested_timestamp") >= F.lit(buffer_from))
        & (F.col("ingested_timestamp") <= F.lit(to_ts))
    )

    # Only StartTransaction and Authorize read confirmation values
    # (models/payload.py).
    events_conf = correlate(
        extract(
            ocpp_logs.filter(
                F.col("action").isin(list(p.vars.preparing_actions))
                & (F.col("message_type_id") == p.vars.call_message_type_id)
            ),
            ["charger_id", "action", "ingested_ts", "unique_id"],
            {"e_id_tag": "idTag", "e_txn_id": "transactionId", "e_error_code": "errorCode"},
            connector_id().alias("e_connector_id"),
        ),
        ocpp_logs, p.vars.transaction_message_retry_interval_seconds,
        p.vars.callresult_message_type_id, consumers=["StartTransaction", "Authorize"],
        fields={"c_id_tag_status": "idTagInfo.status", "c_parent_id_tag": "idTagInfo.idTag",
                "c_txn_id": "transactionId"},
    ).select(
        F.col("charger_id").alias("e_charger_id"),
        "action",
        F.col("ingested_ts").alias("e_ingested_ts"),
        "e_id_tag", "e_txn_id", "e_error_code",
        "c_id_tag_status", "c_parent_id_tag", "c_txn_id", "e_connector_id",
    ).dropDuplicates()
    # ^ Pair dedup BEFORE the anchor fanout join. It also collapses the
    # pairs of retried confirmations at distinct timestamps, which the
    # confirmation-side dedup keeps: ~167 near-identical pairs per event
    # at the 2000× fleet (2.00B pairs), which the anchor interval join
    # then sort-merged (280 s of the model's 406 s). Every downstream use
    # is duplicate-insensitive — the details projection is row-wise and
    # the rollup aggregates ONLY via collect_set over these columns — and
    # the groupBy is map-side combinable on rows already partitioned by
    # the join's uid key.

    chained = anchors.join(
        events_conf,
        (F.col("e_charger_id") == F.col("charger_id"))
        & (F.col("e_connector_id") == F.col("connector_id"))
        & (
            F.col("e_ingested_ts")
            > F.coalesce(F.col("previous_ingested_ts"), F.col("ingested_ts"))
        )
        & (
            F.col("e_ingested_ts")
            <= F.coalesce(F.col("next_ingested_ts"), F.col("ingested_ts"))
        ),
        "left",
    )

    details = chained.select(
        "charger_id",
        "connector_id",
        "unique_id",
        "ingested_ts",
        "previous_status",
        "status",
        "next_status",
        "confirmation_ingested_ts",
        "previous_ingested_ts",
        "next_ingested_ts",
        "previous_payload_ts",
        "next_payload_ts",
        "payload_ts",
        gate(["StartTransaction", "RemoteStartTransaction"], "e_id_tag").alias("id_tag"),
        gate(["StartTransaction", "Authorize"], "c_id_tag_status").alias("id_tag_status"),
        gate("Authorize", "c_parent_id_tag").alias("parent_id_tag"),
        transaction_id("e_txn_id", "c_txn_id").alias("transaction_id"),
        gate("StatusNotification", "e_error_code").alias("error_code"),
    )

    group_keys = [
        "charger_id", "connector_id", "unique_id", "ingested_ts", "payload_ts",
        "previous_status", "status", "next_status", "confirmation_ingested_ts",
        "previous_ingested_ts", "next_ingested_ts", "previous_payload_ts",
        "next_payload_ts",
    ]
    agg = details.groupBy(*group_keys).agg(
        F.sort_array(F.collect_set("id_tag")).alias("id_tags"),
        F.sort_array(F.collect_set("id_tag_status")).alias("id_tag_statuses"),
        F.sort_array(F.collect_set("parent_id_tag")).alias("parent_id_tags"),
        F.sort_array(F.collect_set("transaction_id")).alias("transaction_ids"),
        F.sort_array(F.collect_set("error_code")).alias("error_codes"),
    )

    # Merge with prior open anchors (next_status is null) on the full
    # anchor key; coalesce precedence is asymmetric by design —
    # new-wins for status/next_*, old-wins for previous_*
    # (int_connector_preparing.sql:214-233).
    agg = p.merge_prior(
        "int_connector_preparing", agg,
        ["charger_id", "connector_id", "unique_id", "ingested_ts"],
        {**dict.fromkeys(["previous_status", "status", "next_status",
                          "confirmation_ingested_ts", "next_ingested_ts",
                          "next_payload_ts"], "batch"),
         **dict.fromkeys(["previous_ingested_ts", "previous_payload_ts"], "prior"),
         **dict.fromkeys(["id_tags", "id_tag_statuses", "parent_id_tags",
                          "transaction_ids", "error_codes"], "union")},
        prior_filter=F.col("next_status").isNull(),
    )

    connectors = int_connectors.select("charger_id", "connector_id", "port_id")
    chargers = int_chargers.select("charger_id", "location_id")
    return (
        agg.join(F.broadcast(connectors), ["charger_id", "connector_id"], "left")
        .join(F.broadcast(chargers), ["charger_id"], "left")
        .withColumn(
            "transaction_id",
            F.when(
                F.col("transaction_ids").isNotNull() & (F.size("transaction_ids") > 0),
                F.element_at("transaction_ids", 1),
            ),
        )
        .withColumn("incremental_ts", F.lit(incremental_ts).cast("timestamp"))
        .withColumn(
            "_unique_transaction_count",
            F.when(F.col("transaction_ids").isNotNull(), F.size("transaction_ids")).otherwise(0),
        )
        .select(
            "charger_id", "connector_id", "port_id", "location_id", "unique_id",
            "ingested_ts", "payload_ts", "previous_status", "status", "next_status",
            "confirmation_ingested_ts", "previous_ingested_ts", "next_ingested_ts",
            "previous_payload_ts", "next_payload_ts", "id_tags", "id_tag_statuses",
            "parent_id_tags", "transaction_ids", "error_codes", "transaction_id",
            "incremental_ts", "_unique_transaction_count",
        )
    )
