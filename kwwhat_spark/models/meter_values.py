"""MeterValues pipeline: nested-array unnesting + per-transaction and
15-minute interval aggregation.

Reference: int_meter_values.sql, fact_interval_data.sql. The reference's
own Spark branch defines the typed schema for the payload
(payload_extractions.sql:131) — we parse once with from_json and explode
twice, which Catalyst pushes into a generate chain with column pruning
(vs. per-field json_extract re-parsing in the SQL dialects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from kwwhat_spark.functions.core import bucket_15min, surrogate_key
from kwwhat_spark.models.base import UNIQUE_KEYS, Pipeline, model

# STRUCT<connectorId, transactionId, meterValue: ARRAY<STRUCT<timestamp,
# sampledValue: ARRAY<...>>>> (payload_extractions.sql:131). The two
# scalar ids live in the SAME schema so the whole payload parses once
# per row (one from_json bound to a column — see models/payload.py for
# the measured trap analysis).
METER_VALUES_SCHEMA = StructType(
    [
        StructField("connectorId", StringType()),
        StructField("transactionId", StringType()),
        StructField(
            "meterValue",
            ArrayType(
                StructType(
                    [
                        StructField("timestamp", StringType()),
                        StructField(
                            "sampledValue",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("measurand", StringType()),
                                        StructField("value", StringType()),
                                        StructField("unit", StringType()),
                                        StructField("phase", StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def _meter_measurements(logs_windowed: DataFrame) -> DataFrame:
    """MeterValues CALLs → one row per sampled value, with meter_timestamp.

    Columns: charger_id, ingested_ts (log row's), connector_id,
    transaction_id, meter_timestamp, measurand, value, unit, phase.
    """
    mv_logs = logs_windowed.filter(
        (F.col("action") == "MeterValues") & (F.col("message_type_id") == "2")
    ).withColumn(
        "__pj", F.from_json("payload", METER_VALUES_SCHEMA)
    ).select(
        F.col("ingested_ts").alias("log_ingested_ts"),
        "charger_id",
        F.col("__pj.connectorId").cast("string").alias("connector_id"),
        F.col("__pj.transactionId").cast("string").alias("transaction_id"),
        F.col("__pj.meterValue").alias("meter_values"),
    )
    level1 = mv_logs.filter(F.col("meter_values").isNotNull()).select(
        "log_ingested_ts",
        "charger_id",
        "connector_id",
        "transaction_id",
        F.explode("meter_values").alias("mv"),
    )
    return level1.select(
        "log_ingested_ts",
        "charger_id",
        "connector_id",
        "transaction_id",
        F.col("mv.timestamp").cast("timestamp").alias("meter_timestamp"),
        F.explode("mv.sampledValue").alias("sv"),
    ).select(
        "log_ingested_ts",
        "charger_id",
        "connector_id",
        "transaction_id",
        "meter_timestamp",
        F.col("sv.measurand").alias("measurand"),
        F.col("sv.value").alias("value"),
        F.col("sv.unit").alias("unit"),
        F.col("sv.phase").alias("phase"),
    )


def _windowed_logs(p: Pipeline, from_ts, to_ts) -> DataFrame:
    return p.ref("stg_ocpp_logs").select(
        "charger_id",
        "action",
        F.col("ingested_timestamp").alias("ingested_ts"),
        "message_type_id",
        "payload",
    ).filter(
        (F.col("ingested_timestamp") > F.lit(from_ts))
        & (F.col("ingested_timestamp") <= F.lit(to_ts))
    )


@model("int_meter_values",
       unique_key=["charger_id", "transaction_id", "ingested_ts", "connector_id",
                   "measurand", "unit", "phase"],
       cluster_by="ingested_ts")
def int_meter_values(p: Pipeline) -> DataFrame:
    logs, int_transactions, int_connectors, int_chargers = p.refs(
        "stg_ocpp_logs", "int_transactions", "int_connectors", "int_chargers")
    from_ts, _, to_ts = p.window(
        "int_meter_values", from_caps=[(logs, "ingested_timestamp")])
    windowed = _windowed_logs(p, from_ts, to_ts)
    incremental_ts = p.scalar_max(windowed, "ingested_ts")

    transactions = int_transactions.select(
        F.col("charger_id").alias("t_charger_id"),
        F.col("transaction_id").alias("t_transaction_id"),
        F.col("connector_id").alias("t_connector_id"),
        F.col("ingested_ts").alias("t_ingested_ts"),
        F.col("last_ingested_ts").alias("t_last_ingested_ts"),
    )

    measurements = _meter_measurements(windowed)
    # Attach the transaction's first ingestion ts — becomes this model's
    # ingested_ts (int_meter_values.sql:110-116).
    with_tx = measurements.join(
        transactions,
        (F.col("charger_id") == F.col("t_charger_id"))
        & (F.col("connector_id") == F.col("t_connector_id"))
        & (F.col("transaction_id") == F.col("t_transaction_id"))
        & (F.col("log_ingested_ts") >= F.col("t_ingested_ts"))
        & (F.col("log_ingested_ts") <= F.col("t_last_ingested_ts")),
        "left",
    ).select(
        "charger_id",
        "transaction_id",
        "connector_id",
        F.col("t_ingested_ts").alias("ingested_ts"),
        "meter_timestamp",
        "measurand",
        "value",
        "unit",
        "phase",
    )

    agg = (
        with_tx.filter(F.col("value").isNotNull() & (F.col("value") != ""))
        .groupBy(
            "charger_id", "transaction_id", "connector_id", "ingested_ts",
            "measurand", "unit", "phase",
        )
        .agg(
            F.min("meter_timestamp").alias("first_measurement_ts"),
            F.max("meter_timestamp").alias("last_measurement_ts"),
            F.min(F.col("value").cast("float")).alias("min_value"),
            F.max(F.col("value").cast("float")).alias("max_value"),
            F.avg(F.col("value").cast("float")).alias("avg_value"),
            F.count(F.lit(1)).alias("_count"),
        )
    )

    # Partial/final recombination with kept (avg, count) state —
    # weighted average (int_meter_values.sql:199-248).
    agg = p.merge_prior(
        "int_meter_values", agg, UNIQUE_KEYS["int_meter_values"],
        {"first_measurement_ts": "least", "last_measurement_ts": "greatest",
         "min_value": "least", "max_value": "greatest", "avg_value": ("mean", "_count")},
    )

    connectors = int_connectors.select("charger_id", "connector_id", "port_id")
    chargers = int_chargers.select("charger_id", "location_id")
    return (
        agg.join(F.broadcast(connectors), ["charger_id", "connector_id"], "left")
        .join(F.broadcast(chargers), ["charger_id"], "left")
        .select(
            "charger_id", "transaction_id", "ingested_ts", "connector_id",
            "port_id", "location_id", "measurand", "unit", "phase",
            "first_measurement_ts", "last_measurement_ts",
            "min_value", "max_value", "avg_value", "_count",
            F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
        )
    )


@model("fact_interval_data",
       unique_key=["charger_id", "transaction_id", "ingested_ts", "connector_id",
                   "measurand", "unit", "phase", "meter_15min_interval_start"],
       cluster_by="meter_15min_interval_start")
def fact_interval_data(p: Pipeline) -> DataFrame:
    logs, imv = p.refs("stg_ocpp_logs", "int_meter_values")
    from_ts, _, to_ts = p.window(
        "fact_interval_data",
        from_caps=[(logs, "ingested_timestamp")],
        to_caps=[(imv, "incremental_ts")],
    )

    windowed = _windowed_logs(p, from_ts, to_ts)
    incremental_ts = p.scalar_max(windowed, "ingested_ts")

    context = imv.select(
        F.col("charger_id").alias("mv_charger_id"),
        F.col("transaction_id").alias("mv_transaction_id"),
        F.col("connector_id").alias("mv_connector_id"),
        F.col("measurand").alias("mv_measurand"),
        F.col("unit").alias("mv_unit"),
        F.col("phase").alias("mv_phase"),
        "ingested_ts",
        "port_id",
        "location_id",
        bucket_15min("first_measurement_ts").alias("first_interval"),
        bucket_15min("last_measurement_ts").alias("last_interval"),
        "first_measurement_ts",
        "last_measurement_ts",
    )

    m = _meter_measurements(windowed).withColumn(
        "meter_15min_interval_start", bucket_15min("meter_timestamp")
    )
    joined = m.join(
        context,
        (F.col("charger_id") == F.col("mv_charger_id"))
        & (F.col("connector_id") == F.col("mv_connector_id"))
        & (F.col("transaction_id") == F.col("mv_transaction_id"))
        & (F.col("measurand") == F.col("mv_measurand"))
        & (F.col("unit") == F.col("mv_unit"))
        & (
            (F.col("phase").isNull() & F.col("mv_phase").isNull())
            | (F.col("phase") == F.col("mv_phase"))
        )
        & (F.col("meter_timestamp") >= F.col("first_measurement_ts"))
        & (F.col("meter_timestamp") <= F.col("last_measurement_ts")),
        "left",
    )

    intervals = joined.filter(
        F.col("value").isNotNull() & (F.col("value") != "")
    ).select(
        "charger_id",
        "transaction_id",
        "connector_id",
        "port_id",
        "location_id",
        "ingested_ts",
        F.when(
            F.col("meter_15min_interval_start") == F.col("first_interval"),
            F.col("first_measurement_ts"),
        ).otherwise(F.col("meter_15min_interval_start")).alias("meter_15min_interval_start"),
        F.when(
            F.col("meter_15min_interval_start") == F.col("last_interval"),
            F.col("last_measurement_ts"),
        ).otherwise(
            F.col("meter_15min_interval_start") + F.expr("interval 15 minutes")
        ).alias("meter_15min_interval_stop"),
        "measurand",
        "unit",
        "phase",
        "value",
    )

    agg = intervals.groupBy(
        "charger_id", "transaction_id", "connector_id", "port_id", "location_id",
        "ingested_ts", "meter_15min_interval_start", "meter_15min_interval_stop",
        "measurand", "unit", "phase",
    ).agg(
        F.avg(F.col("value").cast("float")).alias("avg_value"),
        F.count(F.lit(1)).alias("_count"),
    )

    agg = p.merge_prior(
        "fact_interval_data", agg, UNIQUE_KEYS["fact_interval_data"],
        {"avg_value": ("mean", "_count")},
    )

    return agg.select(
        surrogate_key(
            "charger_id", "transaction_id", "ingested_ts", "connector_id",
            "measurand", "unit", "phase", "meter_15min_interval_start",
        ).alias("interval_data_id"),
        F.when(F.col("port_id").isNotNull(), surrogate_key("charger_id", "port_id")).alias(
            "port_key"
        ),
        F.when(F.col("location_id").isNotNull(), surrogate_key("location_id")).alias(
            "location_key"
        ),
        "charger_id",
        "transaction_id",
        "ingested_ts",
        "connector_id",
        "measurand",
        "unit",
        "phase",
        "meter_15min_interval_start",
        "meter_15min_interval_stop",
        "avg_value",
        "_count",
        F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
    )
