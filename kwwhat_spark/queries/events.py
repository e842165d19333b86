"""Event-stream operator coverage on the `events` table.

These queries exercise the reference's core event-processing operator
shapes — change-point detection, gaps-and-islands sessionization,
request↔confirmation correlation, temporal-tolerance full-outer joins,
interval joins, 15-minute bucketing, partial/final (mergeable) aggregation —
over the driver's `events` table (event_id, ts, user_id, event_type, value,
props).

Determinism: every window orders by (ts, event_id) — a total order; time
arithmetic uses integer epoch microseconds/seconds so both engines compute
identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import bucket_15min, datediff_boundary
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.operators.windows import change_points, sessionize
from kwwhat_spark.queries.catalog import query
from kwwhat_spark.sources.testdata import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


_W_USER = lambda: W.partitionBy("user_id").orderBy("ts", "event_id")  # noqa: E731


# ---------------------------------------------------------------------------
# §2.5 — lag/lead change-point detection (int_status_changes.sql:164-205):
# keep rows where the tracked attribute changed vs the previous row.
# ---------------------------------------------------------------------------
@query(
    "change_points",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS previous_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT user_id, event_id, event_type, previous_type, next_type
    FROM w
    WHERE previous_type IS NULL OR previous_type <> event_type
    """,
    cite="int_status_changes.sql:164-205 (lag/lead change points)",
    headline=True,
)
def q_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = change_points(
        _events(spark, sf_dir),
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        tracked="event_type",
    )
    return out.select(
        "user_id", "event_id", "event_type",
        F.col("previous_event_type").alias("previous_type"),
        F.col("next_event_type").alias("next_type"),
    )


# ---------------------------------------------------------------------------
# §2.2/§2.5 — latest-snapshot (int_connector_latest_status.sql:33):
# the most recent row per key.
# ---------------------------------------------------------------------------
@query(
    "latest_snapshot",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    cite="int_connector_latest_status.sql:30-33 (latest row per key)",
)
def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# §2.5/§2.12 — gaps-and-islands sessionization (int_faulted_outages.sql:147-185;
# fact_visits.sql:57-116): 300 s inactivity gap splits sessions; running sum
# of new-session flags assigns island ids; rollup per island.
# ---------------------------------------------------------------------------
@query(
    "sessionize_gaps",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 300000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS event_count,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM islands
    GROUP BY user_id, session_seq
    """,
    cite="int_faulted_outages.sql:147-185; fact_visits.sql:57-116 (sessionization)",
    headline=True,
)
def sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = sessionize(
        _events(spark, sf_dir),
        partition_by=["user_id"],
        ts_col="ts",
        order_by=["ts", "event_id"],
        gap_seconds=300,
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("event_count"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# §2.3 — request↔confirmation correlation (int_status_changes.sql:80-84):
# left-join each request to its first response within [0, +15 s].
# Here: each 'click' to the user's first 'purchase' within 15 s.
# ---------------------------------------------------------------------------
@query(
    "request_response_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id,
           MIN(p.ts) AS first_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND epoch_us(p.ts) - epoch_us(c.ts) <= 15000000
    GROUP BY c.event_id, c.user_id
    """,
    cite="int_status_changes.sql:80-84 (request↔confirmation within 15 s)",
)
def request_response_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (purchases.p_user == clicks.user_id)
        & (purchases.p_ts >= clicks.c_ts)
        & (F.unix_micros(purchases.p_ts) - F.unix_micros(clicks.c_ts) <= 15_000_000)
    )
    return (
        clicks.join(purchases, cond, "left")
        .groupBy("click_id", "user_id")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
    )


# ---------------------------------------------------------------------------
# §2.3 — full-outer join with temporal tolerance
# (fact_charge_attempts.sql:132-143): equi key + ±300 s band, null-safe.
# Views ⟗ purchases per user.
# ---------------------------------------------------------------------------
@query(
    "full_outer_temporal",
    oracle="""
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 300000000
    """,
    cite="fact_charge_attempts.sql:132-143 (full-outer temporal-tolerance join)",
)
def full_outer_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (views.v_user == purchases.p_user) & (
        F.abs(F.unix_micros(views.v_ts) - F.unix_micros(purchases.p_ts)) <= 300_000_000
    )
    return (
        views.join(purchases, cond, "full_outer")
        .select(
            F.coalesce("v_user", "p_user").alias("user_id"),
            "view_id",
            "purchase_id",
        )
    )


# ---------------------------------------------------------------------------
# §2.3 — interval join: events inside a session window
# (int_transactions.sql:159-172 — StatusNotifications during transaction).
# Count 'error' events inside each user session.
# ---------------------------------------------------------------------------
@query(
    "interval_join_errors",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 300000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM islands GROUP BY user_id, session_seq
    )
    SELECT s.user_id, s.session_seq, COUNT(err.ts) AS error_count
    FROM sessions s
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') err
      ON err.user_id = s.user_id AND err.ts >= s.session_start AND err.ts <= s.session_end
    GROUP BY s.user_id, s.session_seq
    """,
    cite="int_transactions.sql:159-172 (events-during-interval join)",
)
def interval_join_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    sessions = (
        sessionize(e, ["user_id"], "ts", ["ts", "event_id"], gap_seconds=300)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"))
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    cond = (
        (errors.e_user == sessions.user_id)
        & (errors.e_ts >= sessions.session_start)
        & (errors.e_ts <= sessions.session_end)
    )
    return (
        sessions.join(errors, cond, "left")
        .groupBy("user_id", "session_seq")
        .agg(F.count("e_ts").alias("error_count"))
    )


# ---------------------------------------------------------------------------
# §2.7 — boundary-crossing datediff (SURVEY §7 risk 1): per-user message
# gaps in minutes, warehouse semantics (int_offline_outages.sql:72-81,178).
# ---------------------------------------------------------------------------
@query(
    "datediff_minutes",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             date_diff('minute', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_minutes
      FROM events
    )
    SELECT user_id,
           CAST(SUM(gap_minutes) AS BIGINT) AS total_gap_minutes,
           MAX(gap_minutes) AS max_gap_minutes,
           COUNT(gap_minutes) AS gap_count
    FROM gaps
    GROUP BY user_id
    """,
    cite="int_offline_outages.sql:72-81,178 (gap detection, boundary datediff)",
)
def datediff_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    prev = F.lag("ts").over(_W_USER())
    gaps = e.select(
        "user_id",
        datediff_boundary("minute", prev, F.col("ts")).alias("gap_minutes"),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("gap_minutes").alias("total_gap_minutes"),
        F.max("gap_minutes").alias("max_gap_minutes"),
        F.count("gap_minutes").alias("gap_count"),
    )


# ---------------------------------------------------------------------------
# §2.7 — 15-minute interval bucketing (int_meter_values.sql:156-160;
# fact_interval_data.sql:190-220): avg/count per bucket × event_type.
# ---------------------------------------------------------------------------
@query(
    "intervals_15min",
    oracle="""
    SELECT
      date_trunc('minute', ts) - (CAST(EXTRACT(minute FROM ts) AS INT) % 15) * INTERVAL 1 MINUTE
        AS interval_start_ts,
      event_type,
      CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(value)
        AS avg_value,
      COUNT(*) AS sample_count
    FROM events
    GROUP BY 1, 2
    """,
    cite="int_meter_values.sql:156-160; fact_interval_data.sql:190-220 (15-min buckets)",
    headline=True,
)
def intervals_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level exact 15-min rollup (same plan family as
    pricing_summary): per-(bucket, type, input-partition) LONG
    (sum-of-hundredths, count) partials keep the per-row hot path in
    whole-stage-codegen long math; the final level sums the tiny
    partials as decimal(28,0) and casts to double once. Exact at any
    scale: a task partition is bounded by maxPartitionBytes (~4M rows),
    so a LONG partial peaks ~4e6 × |value|·100 « 2^63, and ANSI mode
    would throw on the impossible overflow instead of wrapping. Both
    engines round the same exact integer once, so doubles are
    bit-identical."""
    e = _events(spark, sf_dir)
    v100 = F.round(F.col("value") * 100, 0).cast("long")
    partial = e.groupBy(
        bucket_15min("ts").alias("interval_start_ts"),
        "event_type",
        F.spark_partition_id().alias("_p"),
    ).agg(
        F.sum(v100).alias("s"),
        F.count("value").alias("nv"),
        F.count(F.lit(1)).alias("n"),
    )
    return partial.groupBy("interval_start_ts", "event_type").agg(
        (F.sum(F.col("s").cast("decimal(28,0)")).cast("double") / 100.0 / F.sum("nv"))
        .alias("avg_value"),
        F.sum("n").alias("sample_count"),
    )


# ---------------------------------------------------------------------------
# §2.4 — array aggregation (int_transactions.sql:123-134): distinct sorted
# collection per key, emitted as a string for cross-engine determinism.
# ---------------------------------------------------------------------------
@query(
    "array_agg_distinct",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
           COUNT(DISTINCT event_type) AS type_count
    FROM events
    GROUP BY user_id
    """,
    cite="int_transactions.sql:123-134 (array_agg + array_distinct state)",
)
def array_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
        F.countDistinct("event_type").alias("type_count"),
    )


# ---------------------------------------------------------------------------
# §2.4 — min_by/max_by ordered aggregates (int_driver_aggregates.sql:33-56).
# ---------------------------------------------------------------------------
@query(
    "driver_aggregates",
    oracle="""
    SELECT user_id,
           MIN(ts) AS first_seen_ts,
           MAX(ts) AS last_seen_ts,
           arg_min(event_type, ts) AS first_event_type,
           arg_max(event_type, ts) AS latest_event_type,
           COUNT(*) AS event_count
    FROM events
    GROUP BY user_id
    """,
    cite="int_driver_aggregates.sql:33-56 (min_by/max_by driver rollup)",
)
def driver_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.min("ts").alias("first_seen_ts"),
        F.max("ts").alias("last_seen_ts"),
        F.min_by("event_type", "ts").alias("first_event_type"),
        F.max_by("event_type", "ts").alias("latest_event_type"),
        F.count(F.lit(1)).alias("event_count"),
    )


# ---------------------------------------------------------------------------
# §2.4/§2.8 — partial/final mergeable aggregation
# (int_meter_values.sql:199-248 weighted-average recombination): split the
# data into two "batches", keep (sum, count) state, recombine — must equal
# the direct aggregate.
# ---------------------------------------------------------------------------
@query(
    "weighted_merge",
    oracle="""
    SELECT user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS DOUBLE) AS avg_value,
           COUNT(value) AS value_count
    FROM events
    GROUP BY user_id
    """,
    cite="int_meter_values.sql:199-248; fact_interval_data.sql:236-244 (weighted merge)",
)
def weighted_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    batch = e.withColumn("batch", (F.col("event_id") % 2))
    partial = batch.groupBy("user_id", "batch").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.count("value").alias("cnt"),
    )
    return (
        partial.groupBy("user_id")
        .agg(
            (F.sum("sum_value").cast("double") / F.sum("cnt")).cast("double").alias("avg_value"),
            F.sum("cnt").alias("value_count"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 — JSON extraction (macros/json_extract.sql; payload extraction
# family): typed scalar pull from a JSON column, aggregated.
# ---------------------------------------------------------------------------
@query(
    "json_extract_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS k_count
    FROM events
    GROUP BY event_type
    """,
    cite="macros/json_extract.sql:1-38; payload_extractions.sql:1-132 (JSON scalar extraction)",
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("k_count"),
    )


# ---------------------------------------------------------------------------
# §2.7 — date spine (dim_dates.sql:8-14): generated calendar left-joined to
# per-day activity; days with zero events must appear.
# ---------------------------------------------------------------------------
@query(
    "date_spine_activity",
    oracle="""
    WITH spine AS (
      SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS d
    ), daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
    )
    SELECT CAST(spine.d AS DATE) AS date_day, COALESCE(daily.n, 0) AS event_count
    FROM spine LEFT JOIN daily ON CAST(spine.d AS DATE) = daily.d
    """,
    cite="dim_dates.sql:8-14 (date spine)",
)
def date_spine_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("date_day")
    )
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(F.count(F.lit(1)).alias("n"))
    return spine.join(daily, spine.date_day == daily.d, "left").select(
        "date_day", F.coalesce("n", F.lit(0)).alias("event_count")
    )


# ---------------------------------------------------------------------------
# §2.5 — running sum, explicit ROWS frame (int_faulted_outages.sql:160-175).
# ---------------------------------------------------------------------------
@query(
    "running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS running_value
    FROM events
    """,
    cite="int_faulted_outages.sql:160-175 (running sum island ids)",
)
def running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = _W_USER().rowsBetween(W.unboundedPreceding, W.currentRow)
    return e.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
    )


# ---------------------------------------------------------------------------
# §2.4 — global watermark scalar (int_status_changes.sql:36-40: scalar
# max(ingested_ts) appended to every row; here reduced to the scalar).
# ---------------------------------------------------------------------------
@query(
    "batch_watermark",
    oracle="""
    SELECT MAX(ts) AS incremental_ts, MIN(ts) AS min_ts, COUNT(*) AS row_count FROM events
    """,
    cite="int_status_changes.sql:36-40,224 (batch watermark scalar)",
)
def batch_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.agg(
        F.max("ts").alias("incremental_ts"),
        F.min("ts").alias("min_ts"),
        F.count(F.lit(1)).alias("row_count"),
    )


# ---------------------------------------------------------------------------
# Streaming extension under the value-hash gate (same availableNow →
# memory-sink pattern as ocpp_stream_status_changes): the training-data
# ingest shapes a structured-streaming pipeline needs — watermarked
# stateful dedup and windowed aggregation — each with a batch oracle.
# ---------------------------------------------------------------------------
_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stream_events(spark: SparkSession, sf_dir: str):
    """Stage the events table into a temp dir and open it as a stream.

    Returns (streaming DataFrame, cleanup callable). One file → one
    availableNow micro-batch, so watermark semantics cannot drop rows
    mid-run and the streamed result equals the batch computation.
    """
    import shutil
    import tempfile

    stream_dir = tempfile.mkdtemp(prefix="kwh-stream-events-")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(stream_dir)
    return stream, (lambda: shutil.rmtree(stream_dir, ignore_errors=True))


def _run_to_memory(spark: SparkSession, df: DataFrame, output_mode: str) -> DataFrame:
    import uuid

    from kwwhat_spark.streaming.ocpp import await_available_now

    name = f"stream_gate_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_available_now(q, 120)
    out = keep(spark.table(name).localCheckpoint(eager=True))
    spark.catalog.dropTempView(name)
    return out


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts
    FROM events
    """,
    cite="LLM-ops: streaming ingest dedup (stateful dropDuplicates with the "
    "watermark column in the key so per-day state evicts as event time "
    "advances — the unbounded-stream shape of dedup_exact)",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-key dedup: one row per (user, event
    type, day). The dedup key CONTAINS the watermark column (day_ts), so
    the state store drops a day's keys once the watermark passes it —
    state is bounded by keys-per-day, not stream length. On the
    single-batch gate fixture nothing is late, so the streamed output
    equals batch DISTINCT (the oracle)."""
    stream, cleanup = _stream_events(spark, sf_dir)
    try:
        deduped = (
            stream.withColumn("day_ts", F.date_trunc("day", F.col("ts")))
            .withWatermark("day_ts", "0 seconds")
            .dropDuplicates(["user_id", "event_type", "day_ts"])
            .select("user_id", "event_type", "day_ts")
        )
        return _run_to_memory(spark, deduped, "append")
    finally:
        cleanup()


@query(
    "stream_window_counts",
    oracle="""
    SELECT
      date_trunc('minute', ts) - (CAST(EXTRACT(minute FROM ts) AS INT) % 15) * INTERVAL 1 MINUTE
        AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    cite="LLM-ops: streaming windowed aggregation (15-min tumbling windows "
    "over the event stream; batch twin is intervals_15min)",
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts. Complete output mode so every
    window (including the tail windows a watermark would withhold in
    append mode) is emitted — the streamed state equals the batch
    GROUP BY. Sums are decimal-exact then cast, so both engines emit
    bit-identical doubles."""
    stream, cleanup = _stream_events(spark, sf_dir)
    try:
        windowed = (
            stream.groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        return _run_to_memory(spark, windowed, "complete")
    finally:
        cleanup()


@query(
    "stream_session_windows",
    oracle="""
    WITH w AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR ts - lag(ts) OVER uw > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM w
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM g
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)
    """,
    cite="LLM-ops: streaming session windows (session_window + watermark, "
    "append mode). The oracle replays BOTH the gaps-and-islands "
    "sessionization AND the append-mode emission rule — sessions whose "
    "end exceeds the final watermark (max event time, delay 0) are "
    "withheld by the streaming contract, so the HAVING clause mirrors "
    "the probe-verified `end <= watermark` non-strict boundary.",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user session windows (30-min gap): the sessionize
    shape the batch `sessionize_gaps` entry covers, run through the
    streaming state store. State is bounded per active session and
    evicted at emission — the unbounded-ingest shape of sessionization.
    Duplicate-timestamp events merge identically on both engines (gap
    comparison uses only ts), so ordering ties are benign."""
    stream, cleanup = _stream_events(spark, sf_dir)
    try:
        sessions = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )
        return _run_to_memory(spark, sessions, "append")
    finally:
        cleanup()


# ---------------------------------------------------------------------------
# §2.1 source-format breadth: ORC round-trip. Spark's native ORC reader/
# writer (columnar, predicate-pushdown-capable like parquet) — the table
# is written to ORC and read back, and the aggregate over the ORC scan
# must value-hash-match the oracle computed on the original parquet.
# ---------------------------------------------------------------------------
@query(
    "orc_source_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY o_orderstatus
    """,
    cite="SURVEY §2.1 sources/sinks (format breadth beyond CSV/parquet/"
    "JSONL); dbt-spark file_format='orc' table materialization analogue",
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC files → read back → filtered exact-money aggregate.
    The filter sits above the ORC scan so pushdown goes through the ORC
    reader (plan-audited); the checkpoint pins rows before the temp dir
    is removed."""
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="kwh-orc-")
    try:
        orders.write.mode("overwrite").orc(f"{d}/orders")
        back = spark.read.orc(f"{d}/orders")
        out = (
            back.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                (
                    F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("decimal(28,0)"))
                    .cast("double")
                    / 100.0
                ).alias("total_price"),
            )
        )
        return keep(out.localCheckpoint(eager=True))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout: 2-D data skipping. The entry writes
# events Z-ordered by (user_id, ts), reads the clustered files back, and
# answers a 2-D box predicate — values must match the plain-parquet
# oracle exactly, while the layout makes BOTH dimensions' file/row-group
# stats tight (pruning asserted quantitatively in tests/test_layout.py).
# ---------------------------------------------------------------------------
@query(
    "zorder_layout_scan",
    oracle="""
    WITH b AS (
      SELECT min(user_id) AS ulo, max(user_id) AS uhi,
             min(ts) AS tlo, max(ts) AS thi
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events, b
    WHERE user_id >= b.ulo + (b.uhi - b.ulo) * 2 // 10
      AND user_id <  b.ulo + (b.uhi - b.ulo) * 3 // 10
      AND epoch_us(ts) >= epoch_us(b.tlo) + (epoch_us(b.thi) - epoch_us(b.tlo)) * 4 // 10
      AND epoch_us(ts) <  epoch_us(b.tlo) + (epoch_us(b.thi) - epoch_us(b.tlo)) * 6 // 10
    GROUP BY event_type
    """,
    cite="Delta OPTIMIZE ZORDER BY / Iceberg z-ordering analogue: "
    "multi-dimensional clustering for file+row-group skipping "
    "(operators/layout.py, codegen shift/or Morton key)",
)
def zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from kwwhat_spark.operators.layout import grid_coord, write_zordered

    e = _events(spark, sf_dir)
    b = e.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"), F.max(F.unix_micros("ts")).alias("thi"),
    ).first()
    d = tempfile.mkdtemp(prefix="kwh-zorder-")
    try:
        write_zordered(
            e,
            f"{d}/events",
            [
                grid_coord(F.col("user_id"), b["ulo"], b["uhi"], 16),
                grid_coord(F.unix_micros("ts"), b["tlo"], b["thi"], 16),
            ],
            n_files=16,
        )
        back = spark.read.parquet(f"{d}/events")
        ulo = b["ulo"] + (b["uhi"] - b["ulo"]) * 2 // 10
        uhi = b["ulo"] + (b["uhi"] - b["ulo"]) * 3 // 10
        tlo = b["tlo"] + (b["thi"] - b["tlo"]) * 4 // 10
        thi = b["tlo"] + (b["thi"] - b["tlo"]) * 6 // 10
        out = (
            back.filter(
                (F.col("user_id") >= F.lit(ulo))
                & (F.col("user_id") < F.lit(uhi))
                & (F.unix_micros("ts") >= F.lit(tlo))
                & (F.unix_micros("ts") < F.lit(thi))
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100, 0).cast("long").cast("decimal(28,0)"))
                    .cast("double")
                    / 100.0
                ).alias("total_value"),
            )
        )
        return keep(out.localCheckpoint(eager=True))
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# File-stats manifest pruning (the table-format half of data skipping,
# Delta/Iceberg file stats): write Z-ordered events + _manifest.json of
# per-file min/max, prune files BEFORE Spark lists them, then apply the
# real predicate. Values must match the plain-parquet oracle exactly —
# pruning is a superset guarantee, correctness never depends on it.
# ---------------------------------------------------------------------------
@query(
    "manifest_pruned_scan",
    oracle="""
    WITH b AS (
      SELECT min(user_id) AS ulo, max(user_id) AS uhi FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events, b
    WHERE user_id >= b.ulo + (b.uhi - b.ulo) * 1 // 10
      AND user_id <= b.ulo + (b.uhi - b.ulo) * 2 // 10
    GROUP BY event_type
    """,
    cite="Delta/Iceberg file-stats pruning analogue (operators/layout.py "
    "write_with_manifest/read_pruned over the Z-order layout); pruning "
    "effectiveness asserted in tests/test_layout.py",
)
def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from kwwhat_spark.operators.layout import (
        grid_coord,
        read_pruned,
        write_with_manifest,
    )

    e = _events(spark, sf_dir)
    b = e.agg(
        F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"), F.max(F.unix_micros("ts")).alias("thi"),
    ).first()
    d = tempfile.mkdtemp(prefix="kwh-manifest-")
    try:
        write_with_manifest(
            e,
            f"{d}/events",
            ["user_id"],
            coords=[
                grid_coord(F.col("user_id"), b["ulo"], b["uhi"], 16),
                grid_coord(F.unix_micros("ts"), b["tlo"], b["thi"], 16),
            ],
            n_files=16,
        )
        ulo = b["ulo"] + (b["uhi"] - b["ulo"]) * 1 // 10
        uhi = b["ulo"] + (b["uhi"] - b["ulo"]) * 2 // 10
        pruned = read_pruned(spark, f"{d}/events", {"user_id": (ulo, uhi)})
        out = (
            pruned.filter((F.col("user_id") >= F.lit(ulo)) & (F.col("user_id") <= F.lit(uhi)))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100, 0).cast("long").cast("decimal(28,0)"))
                    .cast("double")
                    / 100.0
                ).alias("total_value"),
            )
        )
        return keep(out.localCheckpoint(eager=True))
    finally:
        shutil.rmtree(d, ignore_errors=True)
