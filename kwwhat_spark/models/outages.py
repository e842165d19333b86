"""Outage detection: offline (message gaps) and faulted (all connectors
of a port simultaneously Faulted).

Reference: int_offline_outages.sql, int_faulted_outages.sql.

Spark shapes:
- offline: gap detection is lag/lead over (charger_id) — one window
  shuffle; leading/trailing gaps from the monitoring window edges; the
  zero-message case is a broadcast left_anti join of the (small) charger
  context against message-bearing chargers.
- faulted: the reference's consecutive-time-point self-join
  (int_faulted_outages.sql:100-112) is replaced by lead() over the
  distinct time points (same result, no join); overlap counting keeps the
  range join — per (charger, port) the interval count is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline, model


@model("int_offline_outages", unique_key=["charger_id", "from_ts"], cluster_by="from_ts")
def int_offline_outages(p: Pipeline) -> DataFrame:
    logs, chargers = p.refs("stg_ocpp_logs", "int_chargers")
    from_ts, _, to_ts = p.window(
        "int_offline_outages", to_caps=[(logs, "ingested_timestamp")])

    context = chargers.filter(
        F.col("commissioned_ts").isNotNull()
        & (F.col("commissioned_ts") < F.lit(to_ts))
        & (F.col("decommissioned_ts").isNull() | (F.col("decommissioned_ts") > F.lit(from_ts)))
    ).select(
        "charger_id",
        F.greatest("commissioned_ts", F.lit(from_ts)).alias("monitoring_start_ts"),
        F.least(
            F.coalesce("decommissioned_ts", F.lit(to_ts)), F.lit(to_ts)
        ).alias("monitoring_end_ts"),
    )

    messages = (
        context.join(
            logs.filter(
                (F.col("ingested_timestamp") >= F.lit(from_ts))
                & (F.col("ingested_timestamp") <= F.lit(to_ts))
                & (F.col("message_type_id") == p.vars.call_message_type_id)
                & F.col("action").isin(list(p.vars.charge_point_actions))
            ).select("charger_id", "ingested_timestamp"),
            "charger_id",
            "inner",
        )
        .filter(
            (F.col("ingested_timestamp") >= F.col("monitoring_start_ts"))
            & (F.col("ingested_timestamp") <= F.col("monitoring_end_ts"))
        )
    )
    incremental_ts = p.scalar_max(messages, "ingested_timestamp")

    w = W.partitionBy("charger_id").orderBy("ingested_timestamp")
    gaps = messages.select(
        "charger_id",
        "monitoring_start_ts",
        "monitoring_end_ts",
        F.col("ingested_timestamp").alias("current_ts"),
        F.lag("ingested_timestamp").over(w).alias("prev_ts"),
        F.lead("ingested_timestamp").over(w).alias("next_ts"),
    )

    leading = gaps.filter(
        F.col("prev_ts").isNull() & (F.col("current_ts") > F.col("monitoring_start_ts"))
    ).select("charger_id", F.col("monitoring_start_ts").alias("from_ts"), F.col("current_ts").alias("to_ts"))
    between = gaps.filter(
        F.col("prev_ts").isNotNull() & (F.col("prev_ts") < F.col("current_ts"))
    ).select("charger_id", F.col("prev_ts").alias("from_ts"), F.col("current_ts").alias("to_ts"))
    trailing = gaps.filter(
        F.col("next_ts").isNull() & (F.col("current_ts") < F.col("monitoring_end_ts"))
    ).select("charger_id", F.col("current_ts").alias("from_ts"), F.col("monitoring_end_ts").alias("to_ts"))

    silent = context.join(
        messages.select("charger_id").distinct(), "charger_id", "left_anti"
    ).select(
        "charger_id",
        F.col("monitoring_start_ts").alias("from_ts"),
        F.col("monitoring_end_ts").alias("to_ts"),
    )

    outages = leading.unionByName(between).unionByName(trailing).unionByName(silent)

    if p.is_incremental("int_offline_outages"):
        # Extend outages that ended exactly at the previous run boundary
        # (int_offline_outages.sql:132-150).
        prev = p.this("int_offline_outages").filter(
            F.col("to_ts") == F.lit(from_ts)
        ).select(
            F.col("charger_id").alias("p_charger_id"),
            F.col("from_ts").alias("p_from_ts"),
            F.col("to_ts").alias("p_to_ts"),
        )
        outages = (
            outages.join(
                prev,
                (F.col("charger_id") == F.col("p_charger_id"))
                & (F.col("p_to_ts") == F.col("from_ts")),
                "left",
            )
            .select(
                "charger_id",
                F.least(F.coalesce("p_from_ts", "from_ts"), F.col("from_ts")).alias("from_ts"),
                F.greatest(F.coalesce("p_to_ts", "to_ts"), F.col("to_ts")).alias("to_ts"),
            )
        )

    duration_s = (
        F.unix_timestamp(F.date_trunc("second", F.col("to_ts")))
        - F.unix_timestamp(F.date_trunc("second", F.col("from_ts")))
    ).cast("long")
    return (
        outages.withColumn("duration_seconds", duration_s)
        .filter(F.col("duration_seconds") > p.vars.heartbeat_interval_seconds)
        .select(
            "charger_id",
            "from_ts",
            "to_ts",
            (F.col("duration_seconds") / 60).alias("duration_minutes"),
            F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
        )
    )


@model("int_faulted_outages", unique_key=["charger_id", "port_id", "from_ts"],
       cluster_by="from_ts")
def int_faulted_outages(p: Pipeline) -> DataFrame:
    status_changes, int_ports = p.refs("int_status_changes", "int_ports")
    # The one model that still asks is_incremental for its window: only
    # an incremental batch caps to_ts at the upstream watermark. to_ts
    # also closes the faults still open at the batch end (fault_periods
    # below), so capping a full refresh would change their to_ts.
    incremental = p.is_incremental("int_faulted_outages")
    from_ts, _, to_ts = p.window(
        "int_faulted_outages",
        to_caps=[(status_changes, "incremental_ts")] if incremental else (),
    )

    windowed = status_changes.filter(
        (F.col("incremental_ts") > F.lit(from_ts)) & (F.col("incremental_ts") <= F.lit(to_ts))
    )
    incremental_ts = p.scalar_max(windowed, "ingested_ts")

    fault_periods = windowed.filter(F.col("status") == "Faulted").select(
        "charger_id",
        "port_id",
        "connector_id",
        F.col("ingested_ts").alias("from_ts"),
        F.coalesce("next_ingested_ts", F.lit(to_ts)).alias("to_ts"),
    )

    time_points = (
        fault_periods.select("charger_id", "port_id", F.col("from_ts").alias("time_point"))
        .unionByName(
            fault_periods.select("charger_id", "port_id", F.col("to_ts").alias("time_point"))
        )
        .distinct()
    )
    w = W.partitionBy("charger_id", "port_id").orderBy("time_point")
    intervals = (
        time_points.select(
            "charger_id",
            "port_id",
            F.col("time_point").alias("from_ts"),
            F.lead("time_point").over(w).alias("to_ts"),
        )
        .filter(F.col("to_ts").isNotNull())
    )

    fp = fault_periods.select(
        F.col("charger_id").alias("fp_charger_id"),
        F.col("port_id").alias("fp_port_id"),
        F.col("connector_id").alias("fp_connector_id"),
        F.col("from_ts").alias("fp_from_ts"),
        F.col("to_ts").alias("fp_to_ts"),
    )
    counted = (
        intervals.join(
            fp,
            (F.col("fp_charger_id") == F.col("charger_id"))
            & (F.col("fp_port_id") == F.col("port_id"))
            & (F.col("fp_from_ts") <= F.col("to_ts"))
            & (F.col("fp_to_ts") >= F.col("from_ts")),
            "left",
        )
        .groupBy("charger_id", "port_id", "from_ts", "to_ts")
        .agg(F.countDistinct("fp_connector_id").alias("faulted_connector_count"))
    )

    ports = int_ports.select("charger_id", "port_id", "connector_count")
    all_faulted = counted.join(F.broadcast(ports), ["charger_id", "port_id"], "inner").filter(
        (F.col("faulted_connector_count") == F.col("connector_count"))
        & (F.col("connector_count") > 0)
    )

    w2 = W.partitionBy("charger_id", "port_id").orderBy("from_ts")
    islands = all_faulted.select(
        "charger_id",
        "port_id",
        "from_ts",
        "to_ts",
        F.lag("to_ts").over(w2).alias("prev_to_ts"),
    ).withColumn(
        "group_id",
        F.sum(
            F.when(F.col("prev_to_ts") >= F.col("from_ts"), 0).otherwise(1)
        ).over(w2.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    merged = islands.groupBy("charger_id", "port_id", "group_id").agg(
        F.min("from_ts").alias("from_ts"), F.max("to_ts").alias("to_ts")
    )

    duration_m = (
        (
            F.unix_timestamp(F.date_trunc("minute", F.col("to_ts")))
            - F.unix_timestamp(F.date_trunc("minute", F.col("from_ts")))
        )
        / 60
    ).cast("long")
    return merged.filter(F.col("to_ts") > F.col("from_ts")).select(
        "charger_id",
        "port_id",
        "from_ts",
        "to_ts",
        duration_m.alias("duration_minutes"),
        F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
    )
