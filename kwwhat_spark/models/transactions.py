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
from kwwhat_spark.models.payload import parsed_payload, payload_field

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

    # Parse the request payload ONCE per row; the raw string is dropped
    # before the correlation join so the shuffle carries the pruned
    # struct, not the JSON text.
    # Extract the SIX request scalars the details projection needs
    # BEFORE the correlation join instead of carrying the whole bound
    # struct through it (trap 3 one join later than r10 caught it): the
    # uid window join fans each event to one row per in-window retry
    # copy of its confirmation (~273M pairs at the 2000× fleet), and a
    # struct column is physically materialized into every copy.
    tx_events = (
        ocpp_logs.filter(F.col("action").isin(list(p.vars.transaction_actions)))
        .withColumn("__pj", parsed_payload())
        .select(
            "charger_id",
            "action",
            "ingested_ts",
            "unique_id",
            F.col("__pj.transactionId").alias("e_txn_id"),
            F.col("__pj.idTag").alias("e_id_tag"),
            F.col("__pj.timestamp").alias("e_payload_ts"),
            F.col("__pj.reason").alias("e_stop_reason"),
            F.col("__pj.meterStart").alias("e_meter_start"),
            F.col("__pj.meterStop").alias("e_meter_stop"),
            # Pruned parse, NOT __pj.connectorId: beside the kept struct
            # a field read is duplicated into a second full parse by
            # projection pushdown (payload_field docstring).
            F.when(
                F.col("action").isin(
                    ["StatusNotification", "StartTransaction", "MeterValues",
                     "RemoteStartTransaction"]
                ),
                payload_field("connectorId"),
            ).cast("string").alias("connector_id"),
        )
    )

    conf = ocpp_logs.filter(
        F.col("message_type_id") == p.vars.callresult_message_type_id
    ).select(
        F.col("unique_id").alias("conf_unique_id"),
        F.col("ingested_ts").alias("conf_ingested_ts"),
        F.col("payload").alias("conf_payload"),
    )
    from kwwhat_spark.operators.temporal import uid_window_join

    # CALLRESULT payloads parse BEFORE the correlation join (trap 4,
    # models/payload.py). The r1-r10 rationale — "only confirmations
    # that matched pay the parse" — inverts under the repeated-uuid
    # fanout: the join multiplies matched rows (~68M from 136k events ×
    # same-uuid CALLRESULTs at the 500× fleet), so a post-join parse
    # runs once per COPY. Parsing all 4.4M CALLRESULTs once, then
    # joining the two extracted scalars, measured 25.0 -> 5.1 s (5×).
    conf_parsed = (
        conf.withColumn("__conf_pj", parsed_payload("conf_payload"))
        .select(
            "conf_unique_id",
            "conf_ingested_ts",
            F.col("__conf_pj.transactionId").alias("__conf_txn_id"),
            F.col("__conf_pj.idTagInfo.status").alias("__conf_id_tag_status"),
        )
        # Exact-duplicate confirmations collapse BEFORE the correlation
        # join (the status/preparing treatment): a CALLRESULT contributes
        # only these four values, so verbatim copies — at-least-once
        # redelivery, dense shared-id regimes — multiply join pair count
        # and skew the shuffle key without adding information. Inert
        # downstream: the transaction rollup is min/max/collect_set only,
        # so the reference's fanout copies collapse there anyway (dbt
        # units, DAG property harness, full-vs-incremental replays).
        # Map-side combinable; distinct-value confs are NOT collapsed.
        .dropDuplicates(
            ["conf_unique_id", "conf_ingested_ts",
             "__conf_txn_id", "__conf_id_tag_status"]
        )
    )
    # Only StartTransaction consumes confirmation values (__conf_txn_id,
    # __conf_id_tag_status are gated on action == 'StartTransaction' in
    # the details projection below), yet a blanket left join fans EVERY
    # event to one row per in-window retry copy of its confirmation —
    # semantically-inert duplicates (the rollup is min/max/collect_set
    # only) that still cost a 1.09B-pair scan at the 2000× fleet
    # (measured; ~176 same-id confirmations per call in the seed's
    # dense retry bursts). Join confirmations to the Start events only;
    # everything else passes through with null conf columns — identical
    # model output, pair volume scales with |StartTransaction| instead
    # of |all tx actions|.
    start_events = tx_events.filter(F.col("action") == "StartTransaction")
    other_events = tx_events.filter(F.col("action") != "StartTransaction")
    events_conf = uid_window_join(
        start_events, conf_parsed,
        "unique_id", "conf_unique_id",
        "ingested_ts", "conf_ingested_ts",
        p.vars.message_response_interval_seconds,
    ).unionByName(
        other_events.select(
            "*",
            F.lit(None).cast("string").alias("conf_unique_id"),
            F.lit(None).cast("timestamp").alias("conf_ingested_ts"),
            F.lit(None).cast("string").alias("__conf_txn_id"),
            F.lit(None).cast("string").alias("__conf_id_tag_status"),
        )
    )

    def _gate(action_set, col):
        actions = [action_set] if isinstance(action_set, str) else action_set
        return F.when(F.col("action").isin(actions), F.col(col))

    details = events_conf.select(
        "charger_id",
        "connector_id",
        "ingested_ts",
        # transactionId: CALLRESULT for StartTransaction, request payload for
        # Stop/RemoteStop/MeterValues (payload_extractions.sql:67-75).
        F.coalesce(
            _gate(["StopTransaction", "RemoteStopTransaction", "MeterValues"], "e_txn_id"),
            F.when(F.col("action") == "StartTransaction", F.col("__conf_txn_id")),
        ).cast("string").alias("transaction_id"),
        _gate(["StartTransaction", "RemoteStartTransaction"], "e_id_tag")
        .cast("string").alias("id_tag"),
        F.when(F.col("action") == "StartTransaction", F.col("__conf_id_tag_status"))
        .cast("string").alias("id_tag_status"),
        _gate("StartTransaction", "e_payload_ts").cast("timestamp").alias("transaction_start_ts"),
        _gate("StopTransaction", "e_payload_ts").cast("timestamp").alias("transaction_stop_ts"),
        # Reason omitted ⇒ 'Local' (payload_extractions.sql:57-65).
        F.when(
            F.col("action") == "StopTransaction",
            F.coalesce(F.col("e_stop_reason"), F.lit("Local")),
        ).cast("string").alias("transaction_stop_reason"),
        _gate("StartTransaction", "e_meter_start").cast(_NUMERIC).alias("meter_start"),
        _gate("StopTransaction", "e_meter_stop").cast(_NUMERIC).alias("meter_stop"),
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
