"""Transaction assembly from OCPP message flows.

Reference: int_transactions.sql — correlate the 5 transaction-related
actions with their CALLRESULTs (unique_id + [0,15 s]), extract per-action
payload fields, roll up to (transaction_id, charger_id) grain, attach
StatusNotification error codes observed during the transaction, resolve
port/location.

Spark shape: the windowed log batch is scanned once; the rollup is a
hash aggregate on (transaction_id, charger_id) with collect_set array
state (= DuckDB array_distinct(array_agg(x)) which drops nulls — verified
behavior); arrays are sort_array'd for deterministic order. Reference
dims broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline, model
from kwwhat_spark.models.payload import (
    connector_id, correlate, extract, gate, payload_field, transaction_id)

_NUMERIC = "decimal(28,6)"


@model("int_transactions", unique_key=["charger_id", "connector_id", "ingested_ts"],
       cluster_by="ingested_ts")
def int_transactions(p: Pipeline) -> DataFrame:
    logs, int_connectors, int_chargers = p.refs(
        "stg_ocpp_logs", "int_connectors", "int_chargers")
    from_ts, _, to_ts = p.window("int_transactions")

    ocpp_logs = logs.select(
        "charger_id",
        "action",
        F.col("ingested_timestamp").alias("ingested_ts"),
        "message_type_id",
        "payload",
        "unique_id",
    ).filter(
        (F.col("ingested_timestamp") > F.lit(from_ts))
        & (F.col("ingested_timestamp") <= F.lit(to_ts))
    )
    incremental_ts = p.scalar_max(ocpp_logs, "ingested_ts")

    # Only StartTransaction reads confirmation values (models/payload.py).
    events_conf = correlate(
        extract(
            ocpp_logs.filter(F.col("action").isin(list(p.vars.transaction_actions))),
            ["charger_id", "action", "ingested_ts", "unique_id"],
            {"e_txn_id": "transactionId", "e_id_tag": "idTag", "e_payload_ts": "timestamp",
             "e_stop_reason": "reason", "e_meter_start": "meterStart",
             "e_meter_stop": "meterStop"},
            connector_id().alias("connector_id"),
        ),
        ocpp_logs, p.vars.message_response_interval_seconds,
        p.vars.callresult_message_type_id, consumers=["StartTransaction"],
        fields={"__conf_txn_id": "transactionId", "__conf_id_tag_status": "idTagInfo.status"},
    )

    details = events_conf.select(
        "charger_id",
        "connector_id",
        "ingested_ts",
        transaction_id("e_txn_id", "__conf_txn_id").alias("transaction_id"),
        gate(["StartTransaction", "RemoteStartTransaction"], "e_id_tag").alias("id_tag"),
        gate("StartTransaction", "__conf_id_tag_status").alias("id_tag_status"),
        gate("StartTransaction", "e_payload_ts").cast("timestamp").alias("transaction_start_ts"),
        gate("StopTransaction", "e_payload_ts").cast("timestamp").alias("transaction_stop_ts"),
        # Reason omitted ⇒ 'Local' (payload_extractions.sql:57-65).
        gate("StopTransaction", F.coalesce(F.col("e_stop_reason"), F.lit("Local")))
        .alias("transaction_stop_reason"),
        gate("StartTransaction", "e_meter_start").cast(_NUMERIC).alias("meter_start"),
        gate("StopTransaction", "e_meter_stop").cast(_NUMERIC).alias("meter_stop"),
    )

    transactions = (
        details.filter(F.col("transaction_id").isNotNull())
        .groupBy("transaction_id", "charger_id")
        .agg(
            F.sort_array(F.collect_set("connector_id")).alias("connector_ids"),
            F.min("ingested_ts").alias("ingested_ts"),
            F.min("transaction_start_ts").alias("transaction_start_ts"),
            F.max("transaction_stop_ts").alias("transaction_stop_ts"),
            F.max("ingested_ts").alias("last_ingested_ts"),
            F.min("transaction_stop_reason").alias("transaction_stop_reason"),
            F.sort_array(F.collect_set("id_tag")).alias("id_tags"),
            F.sort_array(F.collect_set("id_tag_status")).alias("id_tag_statuses"),
            F.min("meter_start").alias("meter_start_wh"),
            F.max("meter_stop").alias("meter_stop_wh"),
        )
    )

    status_notifications = ocpp_logs.filter(
        (F.col("action") == "StatusNotification")
        & (F.col("message_type_id") == p.vars.call_message_type_id)
    ).select(
        F.col("charger_id").alias("sn_charger_id"),
        F.col("ingested_ts").alias("sn_ingested_ts"),
        # Two pruned parses, no bound struct: sn_connector_id is a join
        # key (the tsn interval join), so it must stay cheap when the
        # join pushes it into a per-row filter.
        payload_field("connectorId").cast("string").alias("sn_connector_id"),
        payload_field("errorCode").cast("string").alias("sn_error_code"),
    )
    tsn = (
        transactions.alias("t")
        .join(
            status_notifications,
            (F.col("sn_charger_id") == F.col("t.charger_id"))
            & (F.col("sn_ingested_ts") >= F.col("t.transaction_start_ts"))
            & (
                F.col("sn_ingested_ts")
                <= F.coalesce(F.col("t.transaction_stop_ts"), F.col("t.last_ingested_ts"))
            )
            & F.array_contains(F.col("t.connector_ids"), F.col("sn_connector_id")),
            "left",
        )
        .groupBy("t.transaction_id", "t.charger_id")
        .agg(F.sort_array(F.collect_set("sn_error_code")).alias("error_codes"))
    )

    # Extend open transactions from prior state: old-wins on scalars,
    # arrays merged distinct (int_transactions.sql combined_transactions).
    transactions = p.merge_prior(
        "int_transactions", transactions, ["charger_id", "transaction_id"],
        {**dict.fromkeys(["ingested_ts", "transaction_start_ts", "transaction_stop_ts",
                          "last_ingested_ts", "transaction_stop_reason",
                          "meter_start_wh", "meter_stop_wh"], "prior"),
         **dict.fromkeys(["id_tags", "id_tag_statuses", "connector_ids"], "union")},
        prior_filter=F.col("transaction_stop_ts").isNull(),
    )

    final = (
        transactions.join(tsn, ["transaction_id", "charger_id"], "left")
        .withColumn(
            "energy_transferred_kwh",
            F.when(
                F.col("meter_start_wh").isNotNull() & F.col("meter_stop_wh").isNotNull(),
                (F.col("meter_stop_wh") - F.col("meter_start_wh")) / 1000.0,
            ).cast(_NUMERIC),
        )
        .withColumn(
            "connector_id",
            F.when(
                F.col("connector_ids").isNotNull() & (F.size("connector_ids") > 0),
                F.element_at("connector_ids", 1),
            ),
        )
        .withColumn(
            "_unique_connectors_count",
            F.when(F.col("connector_ids").isNotNull(), F.size("connector_ids")).otherwise(0),
        )
    )

    connectors = int_connectors.select("charger_id", "connector_id", "port_id")
    chargers = int_chargers.select("charger_id", "location_id")
    return (
        final.join(F.broadcast(connectors), ["charger_id", "connector_id"], "left")
        .join(F.broadcast(chargers), ["charger_id"], "left")
        .withColumn("incremental_ts", F.lit(incremental_ts).cast("timestamp"))
    )
