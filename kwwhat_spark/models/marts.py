"""Remaining marts: downtime, uptime, commissioned-daily, drivers.

Reference: fact_downtime_daily.sql, fact_uptime.sql,
fact_charger_commissioned_daily.sql, int_driver_aggregates.sql,
dim_drivers.sql.

Scale notes: both calendar expansions use sequence+explode instead of the
reference's range joins against dim_dates (SURVEY §4) — no join, no
broadcast of an 11k-row calendar against every outage row; the per-day
rows are generated exactly where the outage row lives.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import datediff_boundary, surrogate_key
from kwwhat_spark.models.base import Pipeline, model


@model("fact_downtime_daily", unique_key=["date_id", "charger_id", "port_id", "reason"],
       cluster_by="date_id")
def fact_downtime_daily(p: Pipeline) -> DataFrame:
    int_ports, faulted_outages, offline_outages, int_chargers = p.refs(
        "int_ports", "int_faulted_outages", "int_offline_outages", "int_chargers")
    from_ts, buffer_from, to_ts = p.window(
        "fact_downtime_daily", buffer_minutes=p.vars.downtime_buffer_minutes
    )
    ports = int_ports.select("charger_id", "port_id")
    in_window = (F.col("incremental_ts") > F.lit(buffer_from)) & (
        F.col("incremental_ts") <= F.lit(to_ts)
    )

    faulted = (
        faulted_outages
        .filter(in_window)
        .join(F.broadcast(ports), ["charger_id", "port_id"], "inner")
        .select(
            "charger_id", "port_id", "from_ts", "to_ts", "duration_minutes",
            "incremental_ts", F.lit("FAULTED").alias("reason"),
        )
    )

    # Offline outages are charger-level → fan to ports, then drop those
    # starting inside a faulted window (anti-join with range condition,
    # fact_downtime_daily.sql:47-67).
    offline_raw = (
        offline_outages
        .filter(in_window)
        .join(F.broadcast(ports), ["charger_id"], "inner")
        .select(
            "charger_id", "port_id", "from_ts", "to_ts", "duration_minutes",
            "incremental_ts", F.lit("OFFLINE").alias("reason"),
        )
    )
    f_keys = faulted.select(
        F.col("charger_id").alias("f_charger_id"),
        F.col("port_id").alias("f_port_id"),
        F.col("from_ts").alias("f_from_ts"),
        F.col("to_ts").alias("f_to_ts"),
    )
    offline = offline_raw.join(
        f_keys,
        (F.col("charger_id") == F.col("f_charger_id"))
        & (F.col("port_id") == F.col("f_port_id"))
        & (F.col("from_ts") >= F.col("f_from_ts"))
        & (F.col("from_ts") < F.col("f_to_ts")),
        "left_anti",
    )

    outages = offline.unionByName(faulted)
    incremental_ts = p.scalar_max(outages, "incremental_ts")

    # Calendar-day split via sequence+explode (replaces the dim_dates range
    # join, fact_downtime_daily.sql:76-83).
    exploded = outages.select(
        "charger_id",
        "port_id",
        "reason",
        "from_ts",
        "to_ts",
        F.explode(
            F.sequence(F.to_date("from_ts"), F.to_date("to_ts"), F.expr("interval 1 day"))
        ).alias("date_id"),
    )
    per_day = exploded.select(
        "charger_id",
        "port_id",
        "date_id",
        "reason",
        datediff_boundary(
            "minute",
            F.greatest(F.col("from_ts"), F.col("date_id").cast("timestamp")),
            F.least(
                F.col("to_ts"),
                (F.col("date_id") + F.expr("interval 1 day")).cast("timestamp"),
            ),
        ).alias("duration_minutes"),
    )
    final = per_day.groupBy("date_id", "charger_id", "port_id", "reason").agg(
        F.sum("duration_minutes").alias("duration_minutes")
    )

    chargers = int_chargers.select("charger_id", "location_id")
    return final.join(F.broadcast(chargers), "charger_id", "left").select(
        surrogate_key("date_id", "charger_id", "port_id", "reason").alias("downtime_id"),
        surrogate_key("charger_id", "port_id").alias("port_key"),
        F.when(F.col("location_id").isNotNull(), surrogate_key("location_id")).alias(
            "location_key"
        ),
        "date_id",
        "charger_id",
        "port_id",
        "reason",
        "duration_minutes",
        F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
    )


@model("fact_charger_commissioned_daily", view=True, cluster_by="date_id")
def fact_charger_commissioned_daily(p: Pipeline) -> DataFrame:
    (chargers,) = p.refs("int_chargers")
    spans = (
        chargers
        .filter(F.col("commissioned_ts").isNotNull())
        .select(
            "charger_id",
            "commissioned_ts",
            F.coalesce("decommissioned_ts", F.current_timestamp()).alias("decommissioned_ts"),
        )
    )
    days = spans.select(
        "charger_id",
        "commissioned_ts",
        "decommissioned_ts",
        F.explode(
            F.sequence(
                F.to_date("commissioned_ts"),
                F.to_date("decommissioned_ts"),
                F.expr("interval 1 day"),
            )
        ).alias("date_id"),
    )
    minutes = days.select(
        "charger_id",
        "date_id",
        F.greatest(
            F.lit(0),
            datediff_boundary(
                "minute",
                F.greatest(F.col("commissioned_ts"), F.col("date_id").cast("timestamp")),
                F.least(
                    F.col("decommissioned_ts"),
                    (F.col("date_id") + F.expr("interval 1 day")).cast("timestamp"),
                ),
            ),
        ).alias("minutes"),
    )
    return minutes.filter(F.col("minutes") > 0)


@model("fact_uptime", view=True, cluster_by="date_id")
def fact_uptime(p: Pipeline) -> DataFrame:
    int_ports, commissioned, downtime, int_chargers = p.refs(
        "int_ports", "fact_charger_commissioned_daily", "fact_downtime_daily", "int_chargers")
    ports = int_ports.select("charger_id", "port_id")
    span_port_days = commissioned.join(
        F.broadcast(ports), "charger_id", "inner"
    ).select("charger_id", "port_id", "date_id", F.col("minutes").alias("minutes_commissioned"))

    downtime = downtime.groupBy("date_id", "charger_id", "port_id").agg(
        F.sum("duration_minutes").alias("total_downtime_minutes")
    )
    with_downtime = span_port_days.join(
        downtime, ["charger_id", "port_id", "date_id"], "left"
    ).withColumn(
        "total_downtime_minutes", F.coalesce("total_downtime_minutes", F.lit(0))
    )

    chargers = int_chargers.select("charger_id", "location_id")
    return (
        with_downtime.join(F.broadcast(chargers), "charger_id", "left")
        .filter(F.col("minutes_commissioned") > 0)
        .select(
            surrogate_key("charger_id", "port_id", "date_id").alias("uptime_id"),
            surrogate_key("charger_id", "port_id").alias("port_key"),
            F.when(F.col("location_id").isNotNull(), surrogate_key("location_id")).alias(
                "location_key"
            ),
            "charger_id",
            "port_id",
            "date_id",
            (
                (F.col("minutes_commissioned") - F.col("total_downtime_minutes"))
                / F.col("minutes_commissioned")
            ).alias("uptime"),
        )
    )


@model("int_driver_aggregates", unique_key=["id_tag"])
def int_driver_aggregates(p: Pipeline) -> DataFrame:
    (attempts,) = p.refs("fact_charge_attempts")
    from_ts, _, to_ts = p.window("int_driver_aggregates")
    att = attempts.filter(
        (F.col("incremental_ts") > F.lit(from_ts)) & (F.col("incremental_ts") <= F.lit(to_ts))
    ).select("id_tag", "id_tag_status", "charge_attempt_start_ts", "incremental_ts")

    known = att.filter(F.col("id_tag").isNotNull()).groupBy("id_tag").agg(
        F.min("charge_attempt_start_ts").alias("first_seen_ts"),
        F.max("charge_attempt_start_ts").alias("last_seen_ts"),
        F.min_by("id_tag_status", "charge_attempt_start_ts").alias("first_authorization_status"),
        F.max_by("id_tag_status", "charge_attempt_start_ts").alias("latest_authorization_status"),
        F.max("incremental_ts").alias("incremental_ts"),
    )
    unknown = (
        att.filter(F.col("id_tag").isNull())
        .agg(
            F.min("charge_attempt_start_ts").alias("first_seen_ts"),
            F.max("charge_attempt_start_ts").alias("last_seen_ts"),
            F.max("incremental_ts").alias("incremental_ts"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .select(
            F.lit(p.vars.unknown_driver_sentinel).alias("id_tag"),
            "first_seen_ts",
            "last_seen_ts",
            F.lit(None).cast("string").alias("first_authorization_status"),
            F.lit(None).cast("string").alias("latest_authorization_status"),
            "incremental_ts",
        )
    )
    new_aggs = known.select(
        "id_tag", "first_seen_ts", "last_seen_ts",
        "first_authorization_status", "latest_authorization_status", "incremental_ts",
    ).unionByName(unknown)

    # Incremental recombination (int_driver_aggregates.sql final CTE):
    # keep the older first-seen / newer last-seen and their statuses.
    return p.merge_prior("int_driver_aggregates", new_aggs, ["id_tag"], {
        "first_seen_ts": "least",
        "last_seen_ts": "greatest",
        "first_authorization_status": ("first", "first_seen_ts"),
        "latest_authorization_status": ("last", "last_seen_ts"),
    })


@model("dim_drivers")
def dim_drivers(p: Pipeline) -> DataFrame:
    (aggs,) = p.refs("int_driver_aggregates")
    sentinel = p.vars.unknown_driver_sentinel
    known = aggs.filter(F.col("id_tag") != sentinel).select(
        surrogate_key("id_tag").alias("driver_key"),
        "id_tag",
        F.lit(True).alias("is_known_driver"),
        "first_seen_ts",
        "last_seen_ts",
        "first_authorization_status",
        "latest_authorization_status",
    )
    floor = dt.datetime(1900, 1, 1)
    unknown = aggs.agg(
        F.coalesce(
            F.max(F.when(F.col("id_tag") == sentinel, F.col("first_seen_ts"))),
            F.lit(floor),
        ).alias("first_seen_ts"),
        F.coalesce(
            F.max(F.when(F.col("id_tag") == sentinel, F.col("last_seen_ts"))),
            F.lit(floor),
        ).alias("last_seen_ts"),
    ).select(
        surrogate_key(F.lit("UNKNOWN")).alias("driver_key"),
        F.lit("UNKNOWN").alias("id_tag"),
        F.lit(False).alias("is_known_driver"),
        "first_seen_ts",
        "last_seen_ts",
        F.lit(None).cast("string").alias("first_authorization_status"),
        F.lit(None).cast("string").alias("latest_authorization_status"),
    )
    return known.unionByName(unknown)
