"""fact_charge_attempts: the heart of the pipeline.

Reference: fact_charge_attempts.sql — full-outer join of Preparing
anchors with transactions on (charger, connector, transaction_id) plus a
±300 s temporal tolerance band anchored at the Preparing window edges;
success rule at :272-280.

Spark shape: both sides are already partition-aligned on
(charger_id, connector_id, transaction_id); the full-outer runs as a
sort-merge join with the band as a residual condition. Null
transaction_ids never equi-match (SQL semantics preserved) — those rows
surface as preparing-only / transaction-only attempts, exactly like the
reference.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import array_union_sorted, surrogate_key
from kwwhat_spark.models.base import Pipeline, model


@model("fact_charge_attempts",
       unique_key=["charger_id", "connector_id", "charge_attempt_start_ts"],
       cluster_by="charge_attempt_start_ts")
def fact_charge_attempts(p: Pipeline) -> DataFrame:
    preparing_src, transactions_src = p.refs("int_connector_preparing", "int_transactions")

    from_ts, buffer_from, to_ts = p.window(
        "fact_charge_attempts", buffer_minutes=30,
        to_caps=[(preparing_src, "incremental_ts"), (transactions_src, "incremental_ts")],
    )

    window_filter = (F.col("ingested_ts") > F.lit(from_ts)) & (
        F.col("ingested_ts") <= F.lit(to_ts)
    )

    prep = preparing_src.filter(window_filter).select(
        F.col("charger_id").alias("p_charger_id"),
        F.col("connector_id").alias("p_connector_id"),
        F.col("port_id").alias("p_port_id"),
        F.col("location_id").alias("p_location_id"),
        F.col("unique_id").alias("preparing_unique_id"),
        F.col("ingested_ts").alias("preparing_ingested_ts"),
        "previous_ingested_ts",
        "next_ingested_ts",
        "previous_status",
        "status",
        "next_status",
        F.col("payload_ts").alias("preparing_payload_ts"),
        F.col("next_payload_ts").alias("preparing_next_payload_ts"),
        F.col("id_tags").alias("p_id_tags"),
        F.col("id_tag_statuses").alias("p_id_tag_statuses"),
        F.col("transaction_id").alias("p_transaction_id"),
        F.col("error_codes").alias("p_error_codes"),
        F.coalesce("payload_ts", "ingested_ts").alias("preparing_start_ts"),
        F.coalesce("next_payload_ts", "next_ingested_ts").alias("preparing_stop_ts"),
    )

    tx = transactions_src.filter(window_filter).select(
        F.col("charger_id").alias("t_charger_id"),
        F.col("connector_id").alias("t_connector_id"),
        F.col("port_id").alias("t_port_id"),
        F.col("location_id").alias("t_location_id"),
        F.col("transaction_id").alias("t_transaction_id"),
        F.col("ingested_ts").alias("transaction_ingested_ts"),
        "transaction_start_ts",
        "transaction_stop_ts",
        "transaction_stop_reason",
        F.col("id_tags").alias("t_id_tags"),
        F.col("id_tag_statuses").alias("t_id_tag_statuses"),
        "meter_start_wh",
        "meter_stop_wh",
        "energy_transferred_kwh",
        F.col("error_codes").alias("t_error_codes"),
    )

    floor = dt.datetime(1900, 1, 1)
    incremental_ts = max(
        p.scalar_max(prep, "preparing_ingested_ts") or floor,
        p.scalar_max(tx, "transaction_ingested_ts") or floor,
    )

    thr = p.vars.authorize_time_threshold_seconds
    band_lo = F.coalesce("previous_ingested_ts", "preparing_ingested_ts") - F.expr(
        f"interval {thr} seconds"
    )
    band_hi = F.coalesce("next_ingested_ts", "preparing_ingested_ts") + F.expr(
        f"interval {thr} seconds"
    )
    joined = prep.join(
        tx,
        (F.col("p_charger_id") == F.col("t_charger_id"))
        & (F.col("p_connector_id") == F.col("t_connector_id"))
        & (F.col("p_transaction_id") == F.col("t_transaction_id"))
        & (F.col("transaction_ingested_ts") > band_lo)
        & (F.col("transaction_ingested_ts") <= band_hi),
        "full_outer",
    )

    attempts = joined.select(
        F.coalesce("p_charger_id", "t_charger_id").alias("charger_id"),
        F.coalesce("p_connector_id", "t_connector_id").alias("connector_id"),
        F.coalesce("p_port_id", "t_port_id").alias("port_id"),
        F.coalesce("p_location_id", "t_location_id").alias("location_id"),
        F.coalesce("preparing_start_ts", "transaction_start_ts").alias("charge_attempt_start_ts"),
        F.coalesce("transaction_stop_ts", "preparing_stop_ts").alias("charge_attempt_stop_ts"),
        "preparing_ingested_ts",
        "preparing_unique_id",
        "previous_status",
        "status",
        "next_status",
        "preparing_payload_ts",
        "preparing_next_payload_ts",
        array_union_sorted(F.col("p_id_tags"), F.col("t_id_tags")).alias("id_tags"),
        array_union_sorted(F.col("p_id_tag_statuses"), F.col("t_id_tag_statuses")).alias(
            "id_tag_statuses"
        ),
        F.coalesce("p_transaction_id", "t_transaction_id").alias("transaction_id"),
        "transaction_start_ts",
        "transaction_stop_ts",
        "transaction_ingested_ts",
        "transaction_stop_reason",
        "meter_start_wh",
        "meter_stop_wh",
        "energy_transferred_kwh",
        array_union_sorted(F.col("p_error_codes"), F.col("t_error_codes")).alias("error_codes"),
    )

    # Merge with buffered attempts (start_ts > buffer_from) on
    # (charger, connector, transaction_id) — a null transaction_id never
    # matches (fact_charge_attempts.sql:211-215): buffer-wins on start,
    # new-wins on stop/details, arrays merged.
    attempts = p.merge_prior(
        "fact_charge_attempts", attempts, ["charger_id", "connector_id", "transaction_id"],
        {"charge_attempt_start_ts": "prior",
         **dict.fromkeys(["charge_attempt_stop_ts", "preparing_unique_id",
                          "preparing_ingested_ts", "preparing_payload_ts",
                          "preparing_next_payload_ts", "previous_status", "status",
                          "next_status", "transaction_ingested_ts", "transaction_start_ts",
                          "transaction_stop_ts", "transaction_stop_reason", "meter_start_wh",
                          "meter_stop_wh", "energy_transferred_kwh"], "batch"),
         **dict.fromkeys(["id_tags", "id_tag_statuses", "error_codes"], "union")},
        prior_filter=F.col("charge_attempt_start_ts") > F.lit(buffer_from),
    )

    is_successful = (
        F.col("transaction_id").isNotNull()
        & (F.col("next_status").isNull() | (F.col("next_status") != "Faulted"))
        & F.col("transaction_stop_reason").isin(list(p.vars.valid_stop_reasons))
        & F.col("energy_transferred_kwh").isNotNull()
        & (F.col("energy_transferred_kwh") > p.vars.min_successful_energy_kwh)
    )

    return attempts.select(
        surrogate_key("charger_id", "connector_id", "charge_attempt_start_ts").alias(
            "charge_attempt_id"
        ),
        F.when(
            F.col("port_id").isNotNull(), surrogate_key("charger_id", "port_id")
        ).alias("port_key"),
        F.when(
            F.col("location_id").isNotNull(), surrogate_key("location_id")
        ).alias("location_key"),
        "charger_id",
        "connector_id",
        "charge_attempt_start_ts",
        "charge_attempt_stop_ts",
        "preparing_unique_id",
        "preparing_ingested_ts",
        "preparing_payload_ts",
        "preparing_next_payload_ts",
        "previous_status",
        "status",
        "next_status",
        "id_tags",
        "id_tag_statuses",
        F.when(
            F.col("id_tags").isNotNull() & (F.size("id_tags") > 0),
            F.element_at("id_tags", 1),
        ).cast("string").alias("id_tag"),
        F.when(
            F.col("id_tag_statuses").isNotNull() & (F.size("id_tag_statuses") > 0),
            F.element_at("id_tag_statuses", 1),
        ).cast("string").alias("id_tag_status"),
        "transaction_id",
        "transaction_ingested_ts",
        "transaction_start_ts",
        "transaction_stop_ts",
        "transaction_stop_reason",
        "meter_start_wh",
        "meter_stop_wh",
        "energy_transferred_kwh",
        "error_codes",
        F.when(is_successful, F.lit(True)).otherwise(F.lit(False)).alias("is_successful"),
        F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
    )
