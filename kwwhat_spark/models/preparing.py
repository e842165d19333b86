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
from kwwhat_spark.models.payload import parsed_payload, payload_field


def _gate(action_set, col):
    """Per-action gate over an ALREADY-EXTRACTED scalar column (the
    payload fields are pulled out of the bound structs in events_conf,
    before the anchor fanout join)."""
    actions = [action_set] if isinstance(action_set, str) else action_set
    return F.when(F.col("action").isin(actions), F.col(col))


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

    events = ocpp_logs.filter(
        F.col("action").isin(list(p.vars.preparing_actions))
        & (F.col("message_type_id") == p.vars.call_message_type_id)
    )
    conf = ocpp_logs.filter(
        F.col("message_type_id") == p.vars.callresult_message_type_id
    ).select(
        F.col("unique_id").alias("conf_unique_id"),
        F.col("ingested_ts").alias("conf_ingested_ts"),
        F.col("payload").alias("conf_payload"),
    )
    from kwwhat_spark.operators.temporal import uid_window_join

    retry_s = p.vars.transaction_message_retry_interval_seconds
    # One from_json per side (models/payload.py), bound once (each
    # struct is referenced 3×, so CollapseProject keeps it aliased) —
    # and BOTH parses run BEFORE the uid correlation join (trap 4,
    # models/payload.py): the repeated-uuid pathology fans this join to
    # ~125M rows at the 500× fleet (370k events × ~339 same-uuid
    # CALLRESULTs), so a parse placed after it re-parses each payload
    # per fanout copy — measured 85.7 s after vs 5.7 s before (15×) for
    # this stage. Only the SIX needed scalars cross the join and the
    # later anchor interval join — not the structs, not the JSON
    # strings (r10: carrying whole structs through the fanout join
    # measured +25 s at the 500× fleet).
    events_p = events.withColumn("__pj", parsed_payload()).select(
        "charger_id",
        "action",
        "ingested_ts",
        "unique_id",
        F.col("__pj.idTag").alias("e_id_tag"),
        F.col("__pj.transactionId").alias("e_txn_id"),
        F.col("__pj.errorCode").alias("e_error_code"),
        # Join key: its own pruned single-field parse (payload_field
        # docstring) — the anchor join pushes isnotnull(key) into a
        # per-row filter, which must not drag a full-schema parse.
        F.when(
            F.col("action").isin(
                ["StatusNotification", "StartTransaction", "MeterValues",
                 "RemoteStartTransaction"]
            ),
            payload_field("connectorId"),
        ).cast("string").alias("e_connector_id"),
    )
    conf_p = conf.withColumn("__conf_pj", parsed_payload("conf_payload")).select(
        "conf_unique_id",
        "conf_ingested_ts",
        F.col("__conf_pj.idTagInfo.status").alias("c_id_tag_status"),
        F.col("__conf_pj.idTagInfo.idTag").alias("c_parent_id_tag"),
        F.col("__conf_pj.transactionId").alias("c_txn_id"),
    )
    # Confirmation values are consumed ONLY by StartTransaction and
    # Authorize rows (the _gate()s over c_* below); joining them to
    # every preparing action fans all of them ~170× through in-window
    # retry copies (2.00B pairs measured at the 2000× fleet before the
    # split+dedup below). Non-consuming actions bypass the join with
    # null conf columns — identical output (their duplicates were
    # collect_set-inert anyway), pair volume scales with
    # |Start|+|Authorize| instead of |all preparing actions|.
    conf_actions = ["StartTransaction", "Authorize"]
    ev_conf_side = events_p.filter(F.col("action").isin(conf_actions))
    ev_pass_side = events_p.filter(~F.col("action").isin(conf_actions))
    events_conf = uid_window_join(
        ev_conf_side, conf_p,
        "unique_id", "conf_unique_id",
        "ingested_ts", "conf_ingested_ts",
        retry_s,
    ).unionByName(
        ev_pass_side.select(
            "*",
            F.lit(None).cast("string").alias("conf_unique_id"),
            F.lit(None).cast("timestamp").alias("conf_ingested_ts"),
            F.lit(None).cast("string").alias("c_id_tag_status"),
            F.lit(None).cast("string").alias("c_parent_id_tag"),
            F.lit(None).cast("string").alias("c_txn_id"),
        )
    ).select(
        F.col("charger_id").alias("e_charger_id"),
        "action",
        F.col("ingested_ts").alias("e_ingested_ts"),
        "e_id_tag", "e_txn_id", "e_error_code",
        "c_id_tag_status", "c_parent_id_tag", "c_txn_id", "e_connector_id",
    ).dropDuplicates()
    # ^ Pair-dedup BEFORE the anchor fanout join. Retried confirmations
    # share one correlation id, so the uid window join emits one pair
    # per (call, retry-copy) — measured 2.00 BILLION pairs at the 2000×
    # fleet (~167 near-identical confirmations per event, the seed's
    # own id-reuse × in-window retry bursts), and the anchor interval
    # join then sort-merges all of them (280 s of the model's 406 s).
    # Every downstream use is duplicate-insensitive — the details
    # projection is row-wise and the rollup aggregates ONLY via
    # collect_set over these exact columns — so distinct pairs are
    # semantically identical and the dedup is a map-side-combinable
    # groupBy on rows already partitioned by the join's uid key
    # (duplicates co-reside, partial aggregation collapses them before
    # the shuffle).

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
        _gate(["StartTransaction", "RemoteStartTransaction"], "e_id_tag")
        .cast("string").alias("id_tag"),
        _gate(["StartTransaction", "Authorize"], "c_id_tag_status")
        .cast("string").alias("id_tag_status"),
        _gate("Authorize", "c_parent_id_tag").cast("string").alias("parent_id_tag"),
        F.coalesce(
            _gate(["StopTransaction", "RemoteStopTransaction", "MeterValues"], "e_txn_id"),
            _gate("StartTransaction", "c_txn_id"),
        ).cast("string").alias("transaction_id"),
        _gate("StatusNotification", "e_error_code").cast("string").alias("error_code"),
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
