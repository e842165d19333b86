"""fact_visits: two-step driver-visit sessionization.

Reference: fact_visits.sql —
  Step 1 (:57-138): per (charger, port), chain attempts ≤2 boundary-minutes
  apart (gap measured prev STOP → curr START) with non-conflicting id_tags;
  broadcast max(id_tag) over each chain (retroactive identity inference).
  Step 2 (:141-273): grouping key = location+id_tag (30-min window) when
  authenticated else location+charger+port (2-min); chain again, roll up
  per visit.

Spark shape: the reference's boundary-row range-joins are replaced by
running-sum gaps-and-islands over the SAME is-start flags (identical
membership, SURVEY §2.3) — each step is a single window partitioning, so
the whole mart is two shuffles over the attempts table plus the rollup.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import (
    array_union_sorted,
    datediff_boundary,
    surrogate_key,
)
from kwwhat_spark.models.base import Pipeline, model


def _merge_with_buffer(p: Pipeline, new_visits: DataFrame, buffer_from) -> DataFrame:
    """Incremental visit extension (fact_visits.sql:277-405): pull back
    recent visits, retro-infer id_tags from adjacent new authorized visits,
    then extend buffered visits whose window reaches a new visit's start."""
    vb_cols = [
        "location_id", "charger_ids", "id_tag", "visit_start_ts", "visit_end_ts",
        "charge_attempt_count", "charge_attempt_ids", "total_energy_transferred_kwh",
        "first_charge_attempt_id", "first_charger_id", "first_port_id",
        "last_charge_attempt_id", "last_charger_id", "last_port_id", "is_successful",
    ]
    buffer = p.this("fact_visits").filter(
        F.col("visit_end_ts") >= F.lit(buffer_from)
    ).select(*vb_cols)

    # Retroactive id-tag inference: an unauthorized buffered visit followed
    # (≤2 min, same charger+port) by a new authorized visit takes its tag.
    auth = new_visits.filter(F.col("id_tag").isNotNull()).select(
        F.col("id_tag").alias("auth_id_tag"),
        F.col("first_charger_id").alias("auth_first_charger_id"),
        F.col("first_port_id").alias("auth_first_port_id"),
        F.col("visit_start_ts").alias("auth_visit_start_ts"),
    )
    buffer = (
        buffer.join(
            auth,
            F.col("id_tag").isNull()
            & (F.col("last_charger_id") == F.col("auth_first_charger_id"))
            & (F.col("last_port_id") == F.col("auth_first_port_id"))
            & (F.col("visit_end_ts") < F.col("auth_visit_start_ts"))
            & (
                F.unix_timestamp("auth_visit_start_ts")
                <= F.unix_timestamp("visit_end_ts") + 2 * 60
            ),
            "left",
        )
        .select(
            *[c for c in vb_cols if c != "id_tag"],
            F.coalesce("id_tag", "auth_id_tag").alias("id_tag"),
        )
    )
    buffer = buffer.select(
        *[F.col(c).alias(f"b_{c}") for c in vb_cols],
        F.when(
            F.col("id_tag").isNotNull(),
            F.concat_ws("_", "location_id", "id_tag"),
        )
        .otherwise(F.concat_ws("_", "location_id", "last_charger_id", "last_port_id"))
        .alias("b_grouping_key"),
    )

    merged = new_visits.join(
        buffer,
        (F.col("b_grouping_key") == F.col("grouping_key"))
        & (F.col("b_visit_end_ts") < F.col("visit_start_ts"))
        & (
            F.unix_timestamp("visit_start_ts")
            <= F.unix_timestamp("b_visit_end_ts") + F.col("time_window_minutes") * 60
        ),
        "left",
    )
    return merged.select(
        F.coalesce("b_location_id", "location_id").alias("location_id"),
        F.coalesce("b_id_tag", "id_tag").alias("id_tag"),
        F.coalesce("b_visit_start_ts", "visit_start_ts").alias("visit_start_ts"),
        "visit_end_ts",
        (F.coalesce("b_charge_attempt_count", F.lit(0)) + F.col("charge_attempt_count")).alias(
            "charge_attempt_count"
        ),
        array_union_sorted(F.col("b_charge_attempt_ids"), F.col("charge_attempt_ids")).alias(
            "charge_attempt_ids"
        ),
        array_union_sorted(F.col("b_charger_ids"), F.col("charger_ids")).alias("charger_ids"),
        (
            F.coalesce("b_total_energy_transferred_kwh", F.lit(0))
            + F.col("total_energy_transferred_kwh")
        ).alias("total_energy_transferred_kwh"),
        "is_successful",
        F.coalesce("b_first_charge_attempt_id", "first_charge_attempt_id").alias(
            "first_charge_attempt_id"
        ),
        "last_charge_attempt_id",
        F.coalesce("b_first_charger_id", "first_charger_id").alias("first_charger_id"),
        "last_charger_id",
        F.coalesce("b_first_port_id", "first_port_id").alias("first_port_id"),
        "last_port_id",
        "grouping_key",
        "time_window_minutes",
    )


def visit_attempts(p: Pipeline) -> tuple[DataFrame, dt.datetime]:
    """The attempts every visit is built from, and fact_visits' window
    ``buffer_from``: ``fact_charge_attempts`` in fact_visits' batch
    window, joined to ``dim_connectors`` (port_id) and ``dim_chargers``
    (location_id), attempts with no start dropped. The batch mart and
    the visit stream (streaming/ocpp.py run_visit_stream) both read
    exactly these rows."""
    attempts_src, dim_connectors, dim_chargers = p.refs(
        "fact_charge_attempts", "dim_connectors", "dim_chargers")
    from_ts, buffer_from, to_ts = p.window(
        "fact_visits", buffer_minutes=30, to_caps=[(attempts_src, "incremental_ts")])

    dim_connectors = dim_connectors.select(
        F.col("charger_id").alias("c_charger_id"),
        F.col("connector_id").alias("c_connector_id"),
        "port_id",
    )
    dim_chargers = dim_chargers.select(
        F.col("charger_id").alias("ch_charger_id"), "location_id"
    )

    att = (
        attempts_src.filter(
            (F.col("incremental_ts") > F.lit(from_ts))
            & (F.col("incremental_ts") <= F.lit(to_ts))
        )
        .join(
            F.broadcast(dim_connectors),
            (F.col("charger_id") == F.col("c_charger_id"))
            & (F.col("connector_id") == F.col("c_connector_id")),
            "inner",
        )
        .join(
            F.broadcast(dim_chargers),
            F.col("charger_id") == F.col("ch_charger_id"),
            "inner",
        )
        .select(
            "charge_attempt_id",
            "charger_id",
            "location_id",
            "port_id",
            "connector_id",
            "charge_attempt_start_ts",
            "charge_attempt_stop_ts",
            "id_tags",
            "id_tag_statuses",
            "energy_transferred_kwh",
            "is_successful",
            "preparing_ingested_ts",
            "id_tag",
        )
        # Orphan attempts (a transaction whose StartTransaction CALLRESULT
        # was lost: no preparing, no start) carry a NULL start_ts. The
        # reference's boundary range-join drops them from every visit
        # group (fact_visits.sql:143 `att.start_ts >= b.group_start_ts`
        # is NULL), and its NULLS-LAST ordering keeps them out of the
        # lag chains; the gaps-and-islands rewrite must exclude them
        # explicitly or they become phantom NULL-start visits (found by
        # the generated-fleet harness, tests/test_ocpp_dag_property.py).
        .filter(F.col("charge_attempt_start_ts").isNotNull())
    )
    return att, buffer_from


def mart_columns() -> list[Column]:
    """The mart's projection of rolled-up visits: the five surrogate
    keys, then the mart's columns in order, with the duration in
    boundary minutes. fact_visits appends its incremental_ts; the
    visit stream emits exactly these columns (its id lists stay
    '|'-joined strings, the mart's are arrays)."""
    return [
        surrogate_key("location_id", "first_charger_id", "first_port_id", "visit_start_ts")
        .alias("visit_id"),
        surrogate_key("location_id").alias("location_key"),
        surrogate_key(F.coalesce(F.col("id_tag"), F.lit("UNKNOWN"))).alias("driver_key"),
        surrogate_key("first_charger_id", "first_port_id").alias("first_port_key"),
        surrogate_key("last_charger_id", "last_port_id").alias("last_port_key"),
        "location_id",
        "charger_ids",
        "id_tag",
        "visit_start_ts",
        "visit_end_ts",
        "charge_attempt_count",
        "charge_attempt_ids",
        "total_energy_transferred_kwh",
        "first_charge_attempt_id",
        "last_charge_attempt_id",
        "first_charger_id",
        "last_charger_id",
        "first_port_id",
        "last_port_id",
        "is_successful",
        "grouping_key",
        datediff_boundary("minute", F.col("visit_start_ts"), F.col("visit_end_ts")).alias(
            "visit_duration_minutes"
        ),
    ]


@model("fact_visits",
       unique_key=["location_id", "first_charger_id", "first_port_id", "visit_start_ts"],
       cluster_by="visit_start_ts")
def fact_visits(p: Pipeline) -> DataFrame:
    att, buffer_from = visit_attempts(p)
    incremental_ts = p.scalar_max(att, "preparing_ingested_ts")

    # ---- Step 1: id-tag inference chains per (charger, port) ----
    w1 = W.partitionBy("charger_id", "port_id").orderBy("charge_attempt_start_ts")
    chained = att.select(
        "*",
        F.lag("charge_attempt_stop_ts").over(w1).alias("prev_attempt_stop_ts"),
        F.lag("id_tag").over(w1).alias("prev_id_tag"),
    )
    gap_min = datediff_boundary(
        "minute", F.col("prev_attempt_stop_ts"), F.col("charge_attempt_start_ts")
    )
    is_group_start = (
        F.col("prev_attempt_stop_ts").isNull()
        | (gap_min > 2)
        | (
            F.col("id_tag").isNotNull()
            & F.col("prev_id_tag").isNotNull()
            & (F.col("id_tag") != F.col("prev_id_tag"))
        )
    )
    grouped = chained.withColumn(
        "_g1",
        F.sum(F.when(is_group_start, 1).otherwise(0)).over(
            w1.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    inferred = grouped.withColumn(
        "id_tag",
        F.max("id_tag").over(W.partitionBy("charger_id", "port_id", "_g1")),
    ).withColumn(
        "step1_group_start_ts",
        F.min("charge_attempt_start_ts").over(W.partitionBy("charger_id", "port_id", "_g1")),
    )

    # ---- Step 2: visit grouping per grouping_key ----
    with_keys = inferred.select(
        "charge_attempt_id",
        "charger_id",
        "port_id",
        "connector_id",
        "charge_attempt_start_ts",
        "charge_attempt_stop_ts",
        "id_tags",
        "id_tag_statuses",
        "energy_transferred_kwh",
        "location_id",
        "is_successful",
        "id_tag",
        F.when(
            F.col("id_tag").isNotNull(),
            F.concat_ws("_", "location_id", "id_tag"),
        )
        .otherwise(F.concat_ws("_", "location_id", "charger_id", "port_id"))
        .alias("grouping_key"),
        F.when(F.col("id_tag").isNotNull(), F.lit(30)).otherwise(F.lit(2)).alias(
            "time_window_minutes"
        ),
    )

    w2 = W.partitionBy("grouping_key").orderBy("charge_attempt_start_ts")
    chained2 = with_keys.select(
        "*",
        F.lag("charge_attempt_stop_ts").over(w2).alias("prev_attempt_stop_ts"),
    )
    gap2 = datediff_boundary(
        "minute", F.col("prev_attempt_stop_ts"), F.col("charge_attempt_start_ts")
    )
    is_visit_start = F.col("prev_attempt_stop_ts").isNull() | (
        gap2 > F.col("time_window_minutes")
    )
    visits_grouped = chained2.withColumn(
        "_v",
        F.sum(F.when(is_visit_start, 1).otherwise(0)).over(
            w2.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    wv = W.partitionBy("grouping_key", "_v")
    visits_attrs = visits_grouped.withColumn(
        "visit_start_ts", F.min("charge_attempt_start_ts").over(wv)
    ).withColumn(
        "is_first_attempt", F.col("visit_start_ts") == F.col("charge_attempt_start_ts")
    ).withColumn(
        "is_last_attempt",
        F.row_number().over(wv.orderBy(F.col("charge_attempt_start_ts").desc())) == 1,
    )

    new_visits = visits_attrs.groupBy(
        "grouping_key", "time_window_minutes", "visit_start_ts"
    ).agg(
        F.max("id_tag").alias("id_tag"),
        F.max("location_id").alias("location_id"),
        F.max("charge_attempt_stop_ts").alias("visit_end_ts"),
        F.count(F.lit(1)).alias("charge_attempt_count"),
        F.sort_array(F.collect_set("charge_attempt_id")).alias("charge_attempt_ids"),
        F.sort_array(F.collect_set("charger_id")).alias("charger_ids"),
        F.sum(F.coalesce("energy_transferred_kwh", F.lit(0))).alias(
            "total_energy_transferred_kwh"
        ),
        F.max(F.when(F.col("is_last_attempt"), F.col("is_successful"))).alias("is_successful"),
        F.min(F.when(F.col("is_first_attempt"), F.col("charge_attempt_id"))).alias(
            "first_charge_attempt_id"
        ),
        F.max(F.when(F.col("is_last_attempt"), F.col("charge_attempt_id"))).alias(
            "last_charge_attempt_id"
        ),
        F.min(F.when(F.col("is_first_attempt"), F.col("charger_id"))).alias("first_charger_id"),
        F.max(F.when(F.col("is_last_attempt"), F.col("charger_id"))).alias("last_charger_id"),
        F.min(F.when(F.col("is_first_attempt"), F.col("port_id"))).alias("first_port_id"),
        F.max(F.when(F.col("is_last_attempt"), F.col("port_id"))).alias("last_port_id"),
    )

    if p.is_incremental("fact_visits"):
        new_visits = _merge_with_buffer(p, new_visits, buffer_from=buffer_from)

    return new_visits.select(
        *mart_columns(),
        F.lit(incremental_ts).cast("timestamp").alias("incremental_ts"),
    )
