"""Hardware reference models + dimensions.

Reference: int_chargers.sql / int_ports.sql / int_connectors.sql,
dim_chargers.sql / dim_ports.sql / dim_connectors.sql / dim_locations.sql,
dim_dates.sql, fact_location_capacity.sql.

Scale note: all of these are fleet-metadata tables (≤ millions of rows at
any realistic fleet) — they are the broadcast side of every downstream
join, which is why int_* materialize small and why dims carry no event
data beyond latest-status.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import surrogate_key
from kwwhat_spark.models.base import Pipeline, model


@model("int_chargers")
def int_chargers(p: Pipeline) -> DataFrame:
    chargers, ports = p.refs("stg_chargers", "int_ports")
    port_counts = ports.groupBy("charger_id").agg(
        F.count("port_id").alias("port_count")
    )
    return chargers.join(port_counts, "charger_id", "left").select(
        "charger_id", "location_id", "commissioned_ts", "decommissioned_ts", "port_count"
    )


@model("int_ports")
def int_ports(p: Pipeline) -> DataFrame:
    ports, connectors = p.refs("stg_ports", "int_connectors")
    connector_counts = connectors.groupBy("charger_id", "port_id").agg(
        F.count("connector_id").alias("connector_count")
    )
    return ports.join(connector_counts, ["charger_id", "port_id"], "left").select(
        "charger_id", "port_id", "connector_count"
    )


@model("int_connectors")
def int_connectors(p: Pipeline) -> DataFrame:
    (connectors,) = p.refs("stg_connectors")
    return connectors.select(
        "charger_id", "port_id", "connector_id", "connector_type"
    )


@model("dim_chargers")
def dim_chargers(p: Pipeline) -> DataFrame:
    (c,) = p.refs("int_chargers")
    return c.select(
        surrogate_key("charger_id").alias("charger_key"),
        "charger_id",
        "location_id",
        "commissioned_ts",
        "decommissioned_ts",
        F.col("decommissioned_ts").isNull().alias("is_commissioned"),
        "port_count",
    )


@model("dim_ports")
def dim_ports(p: Pipeline) -> DataFrame:
    (ports,) = p.refs("int_ports")
    return ports.select(
        surrogate_key("charger_id", "port_id").alias("port_key"),
        "charger_id",
        "port_id",
        "connector_count",
    )


@model("dim_connectors")
def dim_connectors(p: Pipeline) -> DataFrame:
    connectors, latest = p.refs("int_connectors", "int_connector_latest_status")
    latest = latest.select(
        "charger_id", "connector_id", "latest_status", "latest_error_code", "latest_status_ts"
    )
    return (
        connectors.join(latest, ["charger_id", "connector_id"], "left")
        .select(
            surrogate_key("charger_id", "port_id", "connector_id").alias("connector_key"),
            "charger_id",
            "port_id",
            "connector_id",
            "connector_type",
            "latest_status",
            "latest_error_code",
            "latest_status_ts",
        )
    )


@model("dim_locations")
def dim_locations(p: Pipeline) -> DataFrame:
    (chargers,) = p.refs("int_chargers")
    return (
        chargers
        .select("location_id")
        .distinct()
        .select(surrogate_key("location_id").alias("location_key"), "location_id")
    )


@model("dim_dates")
def dim_dates(p: Pipeline) -> DataFrame:
    # dbt_utils.date_spine is EXCLUSIVE of end_date (dim_dates.sql:8-14).
    spine = p.spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(p.vars.date_spine_start).cast("date"),
                F.date_sub(F.lit(p.vars.date_spine_end).cast("date"), 1),
                F.expr("interval 1 day"),
            )
        ).alias("date_day")
    )
    return spine.select(
        F.col("date_day").alias("date_id"),
        "date_day",
        F.year("date_day").alias("year"),
        F.month("date_day").alias("month"),
        F.dayofmonth("date_day").alias("day"),
        # DuckDB extract(dayofweek) = 0 (Sunday) … 6; Spark dayofweek() is
        # 1-based → shift.
        (F.dayofweek("date_day") - 1).alias("day_of_week"),
        F.quarter("date_day").alias("quarter"),
        F.date_trunc("week", F.col("date_day")).alias("week_start_date"),
        F.date_trunc("month", F.col("date_day")).alias("month_start_date"),
        F.date_trunc("quarter", F.col("date_day")).alias("quarter_start_date"),
        F.date_trunc("year", F.col("date_day")).alias("year_start_date"),
    )


@model("fact_location_capacity")
def fact_location_capacity(p: Pipeline) -> DataFrame:
    connectors, chargers = p.refs("int_connectors", "int_chargers")
    connectors = connectors.join(
        F.broadcast(chargers.select("charger_id", "location_id")),
        "charger_id",
        "left",
    )
    capacity = connectors.groupBy("location_id").agg(
        F.countDistinct("charger_id").alias("charger_count"),
        F.countDistinct(
            F.concat(F.col("charger_id"), F.lit("|"), F.col("port_id").cast("string"))
        ).alias("port_count"),
        F.countDistinct(
            F.concat(
                F.col("charger_id"),
                F.lit("|"),
                F.col("port_id").cast("string"),
                F.lit("|"),
                F.col("connector_id").cast("string"),
            )
        ).alias("connector_count"),
    )
    return capacity.select(
        surrogate_key("location_id").alias("location_key"),
        "location_id",
        "charger_count",
        "port_count",
        "connector_count",
    )
