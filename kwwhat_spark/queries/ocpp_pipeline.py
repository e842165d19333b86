"""OCPP mart parity queries: the reference's flagship marts computed by
the Spark model DAG on the demo seed, with DuckDB oracles that are
hand-compiled FULL-REFRESH versions of the reference's model SQL
(models/marts/fact_charge_attempts.sql, fact_visits.sql, fact_uptime.sql,
fact_interval_data.sql and their intermediate parents).

These entries put the mart DAG itself behind the driver's correctness
gate — not just operator analogues. The sf_dir argument is ignored: the
canonical input is the reference demo seed (the same fixture the
reference's own dbt tests run on), read by both engines from
/root/reference/demo/seeds.

Determinism contract (same as the rest of the catalog):
  - array columns are emitted as '|'-joined sorted-distinct strings;
  - every aggregated array in the DAG is sorted (matches the Spark
    models' sort_array(collect_set(...)) / array_sort(array_distinct()));
  - surrogate keys use the exact dbt md5 formula on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep, scope
from kwwhat_spark.queries.catalog import query

SEED_DIR = "/root/reference/demo/seeds"

# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments (hand-compiled reference SQL, full-refresh
# branch, vars from dbt_project.yml: start_processing_date='2025-10-01',
# incremental window 3 months, CALL='2', CALLRESULT='3', retry 45 s,
# authorize threshold 300 s, success energy threshold 0.1 kWh).
# ---------------------------------------------------------------------------

_SK_NULL = "_dbt_utils_surrogate_key_null_"


def _sk(*cols: str) -> str:
    """dbt_utils.generate_surrogate_key compiled to DuckDB."""
    parts = ",".join(
        f"coalesce(CAST({c} AS VARCHAR), '{_SK_NULL}')" for c in cols
    )
    return f"md5(concat_ws('-', {parts}))"


def _nullaware_concat(a: str, b: str) -> str:
    """macros/array_concat.sql: both null → null, one null → other."""
    return (
        f"CASE WHEN {a} IS NULL AND {b} IS NULL THEN NULL "
        f"WHEN {a} IS NULL THEN {b} WHEN {b} IS NULL THEN {a} "
        f"ELSE {a} || {b} END"
    )


def _sorted_merge(a: str, b: str) -> str:
    return f"list_sort(list_distinct({_nullaware_concat(a, b)}))"


# Staging + entity models (stg_ocpp_logs.sql, stg_* + int_connectors /
# int_chargers / int_ports).
def _stg_ctes(seed_dir: str) -> str:
    """Staging + entity CTEs over an arbitrary seed directory — the
    property harness (tests/test_ocpp_dag_property.py) points these at
    GENERATED fleets; the module-level _STG_CTES binds the demo seed."""
    return f"""
raw_logs AS (
    SELECT * FROM read_csv('{seed_dir}/ocpp_1_6_synthetic_logs_14d.csv',
        header=true,
        columns={{'timestamp':'VARCHAR','id':'VARCHAR','action':'VARCHAR','msg':'VARCHAR'}})
),
stg_ocpp_logs AS MATERIALIZED (
    SELECT CAST(timestamp AS TIMESTAMP) AS ingested_timestamp,
           id AS charger_id,
           action,
           json_extract_string(msg, '$[0]') AS message_type_id,
           json_extract_string(msg, '$[1]') AS unique_id,
           CASE WHEN json_extract_string(msg, '$[0]') = '2'
                    THEN CAST(json_extract(msg, '$[3]') AS VARCHAR)
                WHEN json_extract_string(msg, '$[0]') = '3'
                    THEN CAST(json_extract(msg, '$[2]') AS VARCHAR)
           END AS payload
    FROM raw_logs
),
stg_chargers AS (
    SELECT DISTINCT charge_point_id AS charger_id, location_id,
           CAST(commissioned_ts AS TIMESTAMP) AS commissioned_ts,
           CAST(decommissioned_ts AS TIMESTAMP) AS decommissioned_ts
    FROM read_csv('{seed_dir}/chargers.csv', header=true,
        columns={{'charge_point_id':'VARCHAR','location_id':'VARCHAR',
                  'commissioned_ts':'VARCHAR','decommissioned_ts':'VARCHAR'}})
),
stg_ports AS (
    SELECT DISTINCT charge_point_id AS charger_id, port_id
    FROM read_csv('{seed_dir}/ports.csv', header=true,
        columns={{'charge_point_id':'VARCHAR','port_id':'VARCHAR'}})
),
int_connectors AS (
    SELECT DISTINCT charge_point_id AS charger_id, port_id, connector_id,
           connector_type
    FROM read_csv('{seed_dir}/connectors.csv', header=true,
        columns={{'charge_point_id':'VARCHAR','port_id':'VARCHAR',
                  'connector_id':'VARCHAR','connector_type':'VARCHAR'}})
),
int_ports AS (
    SELECT p.charger_id, p.port_id, c.connector_count
    FROM stg_ports p
    LEFT JOIN (SELECT charger_id, port_id, count(connector_id) AS connector_count
               FROM int_connectors GROUP BY charger_id, port_id) c
        ON p.charger_id = c.charger_id AND p.port_id = c.port_id
),
int_chargers AS (
    SELECT ch.charger_id, ch.location_id, ch.commissioned_ts,
           ch.decommissioned_ts, pc.port_count
    FROM stg_chargers ch
    LEFT JOIN (SELECT charger_id, count(port_id) AS port_count
               FROM stg_ports GROUP BY charger_id) pc
        ON ch.charger_id = pc.charger_id
)"""


_STG_CTES = _stg_ctes(SEED_DIR)

# int_status_changes.sql, full-refresh: window from = greatest(start date,
# min(ingested)), to = from + 3 months; SN CALLs + confirmation
# correlation; lag → change filter → lead.
_STATUS_CTES = """
sc_window AS (
    SELECT greatest(TIMESTAMP '2025-10-01 00:00:00',
                    (SELECT min(ingested_timestamp) FROM stg_ocpp_logs)) AS from_ts
),
sc_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp, message_type_id, payload, unique_id
    FROM stg_ocpp_logs, sc_window
    WHERE ingested_timestamp > from_ts
      AND ingested_timestamp <= from_ts + INTERVAL 3 MONTH
),
sc_incremental AS (SELECT max(ingested_timestamp) AS incremental_ts FROM sc_logs),
sc_req AS (
    SELECT ingested_timestamp, charger_id, unique_id, action, payload,
           json_extract_string(payload, '$.connectorId') AS connector_id,
           json_extract_string(payload, '$.status') AS status,
           json_extract_string(payload, '$.errorCode') AS error_code,
           CAST(json_extract_string(payload, '$.timestamp') AS TIMESTAMP) AS payload_ts
    FROM sc_logs
    WHERE action = 'StatusNotification' AND message_type_id = '2'
),
sc_with_conf AS (
    SELECT r.charger_id, r.connector_id, c.port_id,
           r.ingested_timestamp AS ingested_ts, r.unique_id, r.status,
           r.error_code, r.payload, r.payload_ts,
           cf.ingested_timestamp AS confirmation_ingested_ts
    FROM sc_req r
    LEFT JOIN int_connectors c
        ON r.charger_id = c.charger_id AND r.connector_id = c.connector_id
    LEFT JOIN sc_logs cf
        ON cf.unique_id = r.unique_id AND cf.message_type_id = '3'
       AND cf.ingested_timestamp >= r.ingested_timestamp
       AND cf.ingested_timestamp <= r.ingested_timestamp + INTERVAL 15 SECOND
),
sc_lag AS (
    SELECT *,
           lag(status) OVER w AS previous_status,
           lag(ingested_ts) OVER w AS previous_ingested_ts,
           lag(payload_ts) OVER w AS previous_payload_ts
    FROM sc_with_conf
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
),
sc_change AS (
    SELECT * FROM sc_lag WHERE previous_status IS NULL OR previous_status <> status
),
int_status_changes AS MATERIALIZED (
    SELECT *,
           lead(status) OVER w AS next_status,
           lead(ingested_ts) OVER w AS next_ingested_ts,
           lead(payload_ts) OVER w AS next_payload_ts,
           (SELECT incremental_ts FROM sc_incremental) AS incremental_ts
    FROM sc_change
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
)"""

# int_connector_preparing.sql, full-refresh.
_PREPARING_CTES = f"""
prep_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           TIMESTAMP '2025-10-01 00:00:00' - INTERVAL 30 MINUTE AS buffer_from_ts,
           least(TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH,
                 (SELECT max(incremental_ts) FROM int_status_changes),
                 (SELECT max(ingested_timestamp) FROM stg_ocpp_logs)) AS to_ts
),
prep_anchors AS (
    SELECT charger_id, connector_id, unique_id, ingested_ts, payload_ts,
           status, previous_status, previous_ingested_ts, previous_payload_ts,
           next_status, next_ingested_ts, next_payload_ts, error_code,
           confirmation_ingested_ts
    FROM int_status_changes, prep_window
    WHERE ingested_ts >= buffer_from_ts AND ingested_ts <= to_ts
      AND status = 'Preparing'
),
prep_incremental AS (SELECT max(ingested_ts) AS incremental_ts FROM prep_anchors),
prep_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp AS ingested_ts,
           message_type_id, payload, unique_id
    FROM stg_ocpp_logs, prep_window
    WHERE ingested_timestamp >= buffer_from_ts AND ingested_timestamp <= to_ts
),
prep_events_conf AS MATERIALIZED (
    SELECT e.charger_id AS e_charger_id, e.action,
           e.ingested_ts AS e_ingested_ts, e.payload, c.payload AS conf_payload,
           CASE WHEN e.action IN ('StatusNotification','StartTransaction',
                                  'MeterValues','RemoteStartTransaction')
                THEN json_extract_string(e.payload, '$.connectorId')
           END AS e_connector_id
    FROM (SELECT * FROM prep_logs
          WHERE action IN ('Authorize','StartTransaction','StopTransaction',
                           'StatusNotification','RemoteStartTransaction',
                           'RemoteStopTransaction')
            AND message_type_id = '2') e
    LEFT JOIN prep_logs c
        ON c.unique_id = e.unique_id AND c.message_type_id = '3'
       AND c.ingested_ts >= e.ingested_ts
       AND c.ingested_ts <= e.ingested_ts + INTERVAL 45 SECOND
),
prep_details AS (
    SELECT a.charger_id, a.connector_id, a.unique_id, a.ingested_ts,
           a.previous_status, a.status, a.next_status,
           a.confirmation_ingested_ts, a.previous_ingested_ts,
           a.next_ingested_ts, a.previous_payload_ts, a.next_payload_ts,
           a.payload_ts,
           CASE WHEN e.action IN ('StartTransaction','RemoteStartTransaction')
                THEN json_extract_string(e.payload, '$.idTag') END AS id_tag,
           CASE WHEN e.action IN ('StartTransaction','Authorize')
                THEN json_extract_string(e.conf_payload, '$.idTagInfo.status')
           END AS id_tag_status,
           CASE WHEN e.action = 'Authorize'
                THEN json_extract_string(e.conf_payload, '$.idTagInfo.idTag')
           END AS parent_id_tag,
           coalesce(
               CASE WHEN e.action IN ('StopTransaction','RemoteStopTransaction',
                                      'MeterValues')
                    THEN json_extract_string(e.payload, '$.transactionId') END,
               CASE WHEN e.action = 'StartTransaction'
                    THEN json_extract_string(e.conf_payload, '$.transactionId') END
           ) AS transaction_id,
           CASE WHEN e.action = 'StatusNotification'
                THEN json_extract_string(e.payload, '$.errorCode') END AS error_code
    FROM prep_anchors a
    LEFT JOIN prep_events_conf e
        ON e.e_charger_id = a.charger_id AND e.e_connector_id = a.connector_id
       AND e.e_ingested_ts > coalesce(a.previous_ingested_ts, a.ingested_ts)
       AND e.e_ingested_ts <= coalesce(a.next_ingested_ts, a.ingested_ts)
),
prep_agg AS (
    SELECT charger_id, connector_id, unique_id, ingested_ts, payload_ts,
           previous_status, status, next_status, confirmation_ingested_ts,
           previous_ingested_ts, next_ingested_ts, previous_payload_ts,
           next_payload_ts,
           coalesce(list_sort(list_distinct(list(id_tag))), []) AS id_tags,
           coalesce(list_sort(list_distinct(list(id_tag_status))), []) AS id_tag_statuses,
           coalesce(list_sort(list_distinct(list(parent_id_tag))), []) AS parent_id_tags,
           coalesce(list_sort(list_distinct(list(transaction_id))), []) AS transaction_ids,
           coalesce(list_sort(list_distinct(list(error_code))), []) AS error_codes
    FROM prep_details
    GROUP BY charger_id, connector_id, unique_id, ingested_ts, payload_ts,
             previous_status, status, next_status, confirmation_ingested_ts,
             previous_ingested_ts, next_ingested_ts, previous_payload_ts,
             next_payload_ts
),
int_connector_preparing AS MATERIALIZED (
    SELECT p.*, c.port_id, ch.location_id,
           CASE WHEN p.transaction_ids IS NOT NULL AND len(p.transaction_ids) > 0
                THEN p.transaction_ids[1] END AS transaction_id,
           (SELECT incremental_ts FROM prep_incremental) AS incremental_ts
    FROM prep_agg p
    LEFT JOIN int_connectors c
        ON p.charger_id = c.charger_id AND p.connector_id = c.connector_id
    LEFT JOIN int_chargers ch ON p.charger_id = ch.charger_id
)"""

# int_transactions.sql, full-refresh.
_TRANSACTIONS_CTES = """
tx_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp AS ingested_ts,
           message_type_id, payload, unique_id
    FROM stg_ocpp_logs
    WHERE ingested_timestamp > TIMESTAMP '2025-10-01 00:00:00'
      AND ingested_timestamp <= TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH
),
tx_incremental AS (SELECT max(ingested_ts) AS incremental_ts FROM tx_logs),
tx_details AS MATERIALIZED (
    SELECT e.charger_id,
           CASE WHEN e.action IN ('StatusNotification','StartTransaction',
                                  'MeterValues','RemoteStartTransaction')
                THEN json_extract_string(e.payload, '$.connectorId')
           END AS connector_id,
           e.ingested_ts,
           coalesce(
               CASE WHEN e.action IN ('StopTransaction','RemoteStopTransaction',
                                      'MeterValues')
                    THEN json_extract_string(e.payload, '$.transactionId') END,
               CASE WHEN e.action = 'StartTransaction'
                    THEN json_extract_string(c.payload, '$.transactionId') END
           ) AS transaction_id,
           CASE WHEN e.action IN ('StartTransaction','RemoteStartTransaction')
                THEN json_extract_string(e.payload, '$.idTag') END AS id_tag,
           CASE WHEN e.action = 'StartTransaction'
                THEN json_extract_string(c.payload, '$.idTagInfo.status')
           END AS id_tag_status,
           CASE WHEN e.action = 'StartTransaction'
                THEN CAST(json_extract_string(e.payload, '$.timestamp') AS TIMESTAMP)
           END AS transaction_start_ts,
           CASE WHEN e.action = 'StopTransaction'
                THEN CAST(json_extract_string(e.payload, '$.timestamp') AS TIMESTAMP)
           END AS transaction_stop_ts,
           CASE WHEN e.action = 'StopTransaction'
                THEN coalesce(json_extract_string(e.payload, '$.reason'), 'Local')
           END AS transaction_stop_reason,
           CASE WHEN e.action = 'StartTransaction'
                THEN CAST(json_extract_string(e.payload, '$.meterStart') AS DECIMAL(28,6))
           END AS meter_start,
           CASE WHEN e.action = 'StopTransaction'
                THEN CAST(json_extract_string(e.payload, '$.meterStop') AS DECIMAL(28,6))
           END AS meter_stop
    FROM (SELECT * FROM tx_logs
          WHERE action IN ('StartTransaction','StopTransaction',
                           'RemoteStartTransaction','RemoteStopTransaction',
                           'MeterValues')) e
    LEFT JOIN tx_logs c
        ON c.unique_id = e.unique_id AND c.message_type_id = '3'
       AND c.ingested_ts >= e.ingested_ts
       AND c.ingested_ts <= e.ingested_ts + INTERVAL 15 SECOND
),
tx_groups AS (
    SELECT transaction_id, charger_id,
           coalesce(list_sort(list_distinct(list(connector_id))), []) AS connector_ids,
           min(ingested_ts) AS ingested_ts,
           min(transaction_start_ts) AS transaction_start_ts,
           max(transaction_stop_ts) AS transaction_stop_ts,
           max(ingested_ts) AS last_ingested_ts,
           min(transaction_stop_reason) AS transaction_stop_reason,
           coalesce(list_sort(list_distinct(list(id_tag))), []) AS id_tags,
           coalesce(list_sort(list_distinct(list(id_tag_status))), []) AS id_tag_statuses,
           min(meter_start) AS meter_start_wh,
           max(meter_stop) AS meter_stop_wh
    FROM tx_details
    WHERE transaction_id IS NOT NULL
    GROUP BY transaction_id, charger_id
),
tx_tsn AS (
    SELECT t.transaction_id, t.charger_id,
           coalesce(list_sort(list_distinct(list(sn.sn_error_code))), []) AS error_codes
    FROM tx_groups t
    LEFT JOIN (SELECT charger_id AS sn_charger_id, ingested_ts AS sn_ingested_ts,
                      json_extract_string(payload, '$.connectorId') AS sn_connector_id,
                      json_extract_string(payload, '$.errorCode') AS sn_error_code
               FROM tx_logs
               WHERE action = 'StatusNotification' AND message_type_id = '2') sn
        ON sn.sn_charger_id = t.charger_id
       AND sn.sn_ingested_ts >= t.transaction_start_ts
       AND sn.sn_ingested_ts <= coalesce(t.transaction_stop_ts, t.last_ingested_ts)
       AND list_contains(t.connector_ids, sn.sn_connector_id)
    GROUP BY t.transaction_id, t.charger_id
),
int_transactions AS MATERIALIZED (
    SELECT t.*, tsn.error_codes,
           CAST(CASE WHEN t.meter_start_wh IS NOT NULL AND t.meter_stop_wh IS NOT NULL
                     THEN (t.meter_stop_wh - t.meter_start_wh) / 1000.0
                END AS DECIMAL(28,6)) AS energy_transferred_kwh,
           CASE WHEN t.connector_ids IS NOT NULL AND len(t.connector_ids) > 0
                THEN t.connector_ids[1] END AS connector_id,
           c.port_id, ch.location_id,
           (SELECT incremental_ts FROM tx_incremental) AS incremental_ts
    FROM tx_groups t
    LEFT JOIN tx_tsn tsn
        ON t.transaction_id = tsn.transaction_id AND t.charger_id = tsn.charger_id
    LEFT JOIN int_connectors c
        ON t.charger_id = c.charger_id
       AND (CASE WHEN t.connector_ids IS NOT NULL AND len(t.connector_ids) > 0
                 THEN t.connector_ids[1] END) = c.connector_id
    LEFT JOIN int_chargers ch ON t.charger_id = ch.charger_id
)"""

# fact_charge_attempts.sql, full-refresh.
_ATTEMPTS_CTES = f"""
fca_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           least(TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH,
                 (SELECT max(incremental_ts) FROM int_connector_preparing),
                 (SELECT max(incremental_ts) FROM int_transactions)) AS to_ts
),
fca_preparing AS MATERIALIZED (
    SELECT charger_id, connector_id, port_id, location_id,
           unique_id AS preparing_unique_id,
           ingested_ts AS preparing_ingested_ts,
           previous_ingested_ts, next_ingested_ts,
           previous_status, status, next_status,
           payload_ts, next_payload_ts, id_tags, id_tag_statuses,
           transaction_id, error_codes,
           coalesce(payload_ts, ingested_ts) AS preparing_start_ts,
           coalesce(next_payload_ts, next_ingested_ts) AS preparing_stop_ts
    FROM int_connector_preparing, fca_window
    WHERE ingested_ts > from_ts AND ingested_ts <= to_ts
),
fca_transactions AS MATERIALIZED (
    SELECT charger_id, connector_id, port_id, location_id, transaction_id,
           ingested_ts AS transaction_ingested_ts,
           transaction_start_ts, transaction_stop_ts, transaction_stop_reason,
           id_tags, id_tag_statuses, meter_start_wh, meter_stop_wh,
           energy_transferred_kwh, error_codes
    FROM int_transactions, fca_window
    WHERE ingested_ts > from_ts AND ingested_ts <= to_ts
),
fca_incremental AS (
    SELECT greatest(
        coalesce((SELECT max(preparing_ingested_ts) FROM fca_preparing),
                 TIMESTAMP '1900-01-01 00:00:00'),
        coalesce((SELECT max(transaction_ingested_ts) FROM fca_transactions),
                 TIMESTAMP '1900-01-01 00:00:00')
    ) AS incremental_ts
),
fca_joined AS (
    SELECT
        coalesce(p.charger_id, t.charger_id) AS charger_id,
        coalesce(p.connector_id, t.connector_id) AS connector_id,
        coalesce(p.port_id, t.port_id) AS port_id,
        coalesce(p.location_id, t.location_id) AS location_id,
        coalesce(p.preparing_start_ts, t.transaction_start_ts) AS charge_attempt_start_ts,
        coalesce(t.transaction_stop_ts, p.preparing_stop_ts) AS charge_attempt_stop_ts,
        p.preparing_ingested_ts, p.preparing_unique_id,
        p.previous_status, p.status, p.next_status,
        p.payload_ts AS preparing_payload_ts,
        p.next_payload_ts AS preparing_next_payload_ts,
        {_sorted_merge('p.id_tags', 't.id_tags')} AS id_tags,
        {_sorted_merge('p.id_tag_statuses', 't.id_tag_statuses')} AS id_tag_statuses,
        coalesce(p.transaction_id, t.transaction_id) AS transaction_id,
        t.transaction_start_ts, t.transaction_stop_ts, t.transaction_ingested_ts,
        t.transaction_stop_reason, t.meter_start_wh, t.meter_stop_wh,
        t.energy_transferred_kwh,
        {_sorted_merge('p.error_codes', 't.error_codes')} AS error_codes
    FROM fca_preparing p
    FULL OUTER JOIN fca_transactions t
        ON p.charger_id = t.charger_id
       AND p.connector_id = t.connector_id
       AND p.transaction_id = t.transaction_id
       AND t.transaction_ingested_ts >
           coalesce(p.previous_ingested_ts, p.preparing_ingested_ts) - INTERVAL 300 SECOND
       AND t.transaction_ingested_ts <=
           coalesce(p.next_ingested_ts, p.preparing_ingested_ts) + INTERVAL 300 SECOND
),
fact_charge_attempts AS (
    SELECT
        {_sk('charger_id', 'connector_id', 'charge_attempt_start_ts')} AS charge_attempt_id,
        CASE WHEN port_id IS NOT NULL THEN {_sk('charger_id', 'port_id')} END AS port_key,
        CASE WHEN location_id IS NOT NULL THEN {_sk('location_id')} END AS location_key,
        charger_id, connector_id, charge_attempt_start_ts, charge_attempt_stop_ts,
        preparing_unique_id, preparing_ingested_ts, preparing_payload_ts,
        preparing_next_payload_ts, previous_status, status, next_status,
        id_tags, id_tag_statuses,
        CASE WHEN id_tags IS NOT NULL AND len(id_tags) > 0
             THEN id_tags[1] END AS id_tag,
        CASE WHEN id_tag_statuses IS NOT NULL AND len(id_tag_statuses) > 0
             THEN id_tag_statuses[1] END AS id_tag_status,
        transaction_id, transaction_ingested_ts, transaction_start_ts,
        transaction_stop_ts, transaction_stop_reason, meter_start_wh,
        meter_stop_wh, energy_transferred_kwh, error_codes,
        CASE WHEN transaction_id IS NOT NULL
              AND (next_status IS NULL OR next_status <> 'Faulted')
              AND transaction_stop_reason IN ('Local','Remote','EVDisconnected')
              AND energy_transferred_kwh IS NOT NULL
              AND energy_transferred_kwh > 0.1
             THEN true ELSE false END AS is_successful,
        (SELECT incremental_ts FROM fca_incremental) AS incremental_ts
    FROM fca_joined
)"""


# Session-shared eager checkpoint of the staged demo-seed log view: the
# envelope split (CSV parse + 4 JSON extractions per row) feeds every
# mart AND both incremental lifecycle entries, which previously re-staged
# per batch — sharing it is the gate-budget win of VERDICT r6 item 6.
# This and _MART_CACHE are the only storage no cache scope keeps
# (operators/cachescope): they outlive every entry by design. Both caches key on sparkContext.applicationId (not id(spark)): two
# sessions over one context share the checkpoint, and entries belonging
# to a stopped/replaced context are evicted on the next miss, so a
# long-lived process that stops and recreates sessions doesn't pin
# checkpoints bound to dead contexts for its lifetime.
_STAGED_CACHE: dict[str, DataFrame] = {}


def _evict_stale_apps(cache: dict, app_id: str) -> None:
    for k in [k for k in cache if (k[0] if isinstance(k, tuple) else k) != app_id]:
        del cache[k]


def _staged_logs(spark: SparkSession) -> DataFrame:
    key = spark.sparkContext.applicationId
    if key not in _STAGED_CACHE:
        _evict_stale_apps(_STAGED_CACHE, key)
        import kwwhat_spark.models  # noqa: F401  (registers the model DAG)
        from kwwhat_spark.models.base import Pipeline
        from kwwhat_spark.sources.ocpp import load_ocpp_sources

        p = Pipeline(spark=spark, sources=load_ocpp_sources(spark))
        _STAGED_CACHE[key] = p.ref("stg_ocpp_logs").localCheckpoint(eager=True)
    return _STAGED_CACHE[key]


def _staged_cutoff(spark: SparkSession) -> DataFrame:
    """The staged view of the batch-1 source slice (raw `timestamp` <
    _INC_CUTOFF as an ISO-string compare). Staging is a pure row-wise
    projection, so filtering the staged checkpoint on the parsed
    timestamp is equivalent to staging the filtered raw rows — asserted
    row-exactly in tests/test_incremental.py."""
    cutoff = F.to_timestamp(F.lit("2025-10-08 00:00:00"))
    return _staged_logs(spark).filter(F.col("ingested_timestamp") < cutoff)


def _mart_pipeline(spark: SparkSession):
    import kwwhat_spark.models  # noqa: F401  (registers the model DAG)
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    # The staged log view feeds every intermediate model; injecting the
    # session checkpoint replaces the per-build cache_views persist
    # (same 38%-of-full-build win, now shared across entries too).
    return Pipeline(
        spark=spark,
        sources=load_ocpp_sources(spark),
        overrides={"stg_ocpp_logs": _staged_logs(spark)},
    )


# The four mart entries share one DAG build per session: the first entry
# computes every mart and pins the RESULTS with an eager localCheckpoint
# that no scope keeps (see _STAGED_CACHE), while the pipeline's own
# materialised models live in an inner scope that closes after the
# build. The other three entries are then O(checkpoint scan). The
# Pipeline already checkpoints its non-view marts, but its scope frees
# those, so each mart gets a checkpoint of its own that outlives it.
_MART_NAMES = (
    "fact_charge_attempts", "fact_visits", "fact_uptime", "fact_interval_data",
)
_MART_CACHE: dict[tuple[str, str], DataFrame] = {}


def _mart(spark: SparkSession, name: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, name)
    if key not in _MART_CACHE:
        _evict_stale_apps(_MART_CACHE, app)
        with scope():
            p = _mart_pipeline(spark)
            for n in _MART_NAMES:
                _MART_CACHE[(app, n)] = p.ref(n).localCheckpoint(eager=True)
    return _MART_CACHE[key]


def mart_oracle_for_seed_dir(name: str, seed_dir: str) -> str:
    """Mart oracle SQL with the staging CTEs re-pointed at another seed
    directory (same file names). The property harness uses this to run
    the full-refresh compile against GENERATED fleets."""
    base = {
        "fact_charge_attempts": _FCA_ORACLE,
        "fact_visits": _FV_ORACLE,
        "fact_uptime": _FU_ORACLE,
        "fact_interval_data": _FID_ORACLE,
    }[name]
    return base.replace(_STG_CTES, _stg_ctes(seed_dir))


def mart_projection(name: str, df: DataFrame) -> DataFrame:
    """The driver-facing deterministic projection of each mart (arrays
    joined to strings, money cast to double) — shared by the catalog
    entries and the property harness so compared columns cannot drift."""
    if name == "fact_charge_attempts":
        return df.select(
            "charge_attempt_id", "port_key", "location_key", "charger_id",
            "connector_id", "charge_attempt_start_ts", "charge_attempt_stop_ts",
            "preparing_unique_id", "preparing_ingested_ts", "preparing_payload_ts",
            "preparing_next_payload_ts", "previous_status", "status", "next_status",
            F.array_join("id_tags", "|").alias("id_tags"),
            F.array_join("id_tag_statuses", "|").alias("id_tag_statuses"),
            "id_tag", "id_tag_status", "transaction_id", "transaction_ingested_ts",
            "transaction_start_ts", "transaction_stop_ts", "transaction_stop_reason",
            F.col("meter_start_wh").cast("double").alias("meter_start_wh"),
            F.col("meter_stop_wh").cast("double").alias("meter_stop_wh"),
            F.col("energy_transferred_kwh").cast("double").alias("energy_transferred_kwh"),
            F.array_join("error_codes", "|").alias("error_codes"),
            "is_successful", "incremental_ts",
        )
    if name == "fact_visits":
        return df.select(
            "visit_id", "location_key", "driver_key", "first_port_key",
            "last_port_key", "location_id",
            F.array_join("charger_ids", "|").alias("charger_ids"),
            "id_tag", "visit_start_ts", "visit_end_ts", "charge_attempt_count",
            F.array_join("charge_attempt_ids", "|").alias("charge_attempt_ids"),
            F.col("total_energy_transferred_kwh").cast("double").alias(
                "total_energy_transferred_kwh"
            ),
            "first_charge_attempt_id", "last_charge_attempt_id", "first_charger_id",
            "last_charger_id", "first_port_id", "last_port_id", "is_successful",
            "grouping_key", "visit_duration_minutes", "incremental_ts",
        )
    if name == "fact_uptime":
        return df.filter(F.col("date_id") <= F.lit("2026-01-01").cast("date")).select(
            "uptime_id", "port_key", "location_key", "charger_id", "port_id",
            "date_id", "uptime",
        )
    if name == "fact_interval_data":
        return df.select(
            "interval_data_id", "port_key", "location_key", "charger_id",
            "transaction_id", "ingested_ts", "connector_id", "measurand", "unit",
            "phase", "meter_15min_interval_start", "meter_15min_interval_stop",
            "avg_value", "_count", "incremental_ts",
        )
    raise KeyError(name)


_FCA_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_PREPARING_CTES},
{_TRANSACTIONS_CTES},
{_ATTEMPTS_CTES}
SELECT charge_attempt_id, port_key, location_key, charger_id, connector_id,
       charge_attempt_start_ts, charge_attempt_stop_ts, preparing_unique_id,
       preparing_ingested_ts, preparing_payload_ts, preparing_next_payload_ts,
       previous_status, status, next_status,
       CASE WHEN id_tags IS NULL THEN NULL ELSE coalesce(array_to_string(id_tags, '|'), '') END AS id_tags,
       CASE WHEN id_tag_statuses IS NULL THEN NULL ELSE coalesce(array_to_string(id_tag_statuses, '|'), '') END AS id_tag_statuses,
       id_tag, id_tag_status, transaction_id, transaction_ingested_ts,
       transaction_start_ts, transaction_stop_ts, transaction_stop_reason,
       CAST(meter_start_wh AS DOUBLE) AS meter_start_wh,
       CAST(meter_stop_wh AS DOUBLE) AS meter_stop_wh,
       CAST(energy_transferred_kwh AS DOUBLE) AS energy_transferred_kwh,
       CASE WHEN error_codes IS NULL THEN NULL ELSE coalesce(array_to_string(error_codes, '|'), '') END AS error_codes,
       is_successful, incremental_ts
FROM fact_charge_attempts
"""


@query(
    "ocpp_fact_charge_attempts",
    oracle=_FCA_ORACLE,
    cite="models/marts/fact_charge_attempts.sql:1-282 (full-refresh compile); "
    "int_connector_preparing.sql:1-307; int_transactions.sql:1-257; "
    "int_status_changes.sql:1-225; staging/raw/stg_ocpp_logs.sql",
)
def ocpp_fact_charge_attempts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full mart DAG on the demo seed (sf_dir ignored — the seed is the
    canonical fixture both engines read)."""
    return mart_projection("fact_charge_attempts", _mart(spark, "fact_charge_attempts"))


# fact_visits.sql, full-refresh (two-step sessionization; dims collapse to
# int_connectors/int_chargers projections).
_VISITS_CTES = """
fv_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           least(TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH,
                 (SELECT max(incremental_ts) FROM fact_charge_attempts)) AS to_ts
),
fv_att AS MATERIALIZED (
    SELECT att.charge_attempt_id, att.charger_id, ch.location_id, c.port_id,
           att.connector_id, att.charge_attempt_start_ts,
           att.charge_attempt_stop_ts, att.energy_transferred_kwh,
           att.is_successful, att.preparing_ingested_ts, att.id_tag
    FROM fact_charge_attempts att
    JOIN int_connectors c
        ON att.charger_id = c.charger_id AND att.connector_id = c.connector_id
    JOIN int_chargers ch ON att.charger_id = ch.charger_id
    WHERE att.incremental_ts > (SELECT from_ts FROM fv_window)
      AND att.incremental_ts <= (SELECT to_ts FROM fv_window)
),
fv_incremental AS (SELECT max(preparing_ingested_ts) AS incremental_ts FROM fv_att),
fv_s1_flags AS (
    SELECT *,
           (prev_attempt_stop_ts IS NULL
            OR date_diff('minute', prev_attempt_stop_ts, charge_attempt_start_ts) > 2
            OR (id_tag IS NOT NULL AND prev_id_tag IS NOT NULL
                AND id_tag <> prev_id_tag)) AS is_step1_group_start
    FROM (SELECT *,
                 lag(charge_attempt_stop_ts) OVER w AS prev_attempt_stop_ts,
                 lag(id_tag) OVER w AS prev_id_tag
          FROM fv_att
          WINDOW w AS (PARTITION BY charger_id, port_id
                       ORDER BY charge_attempt_start_ts))
),
fv_s1_bounds AS (
    SELECT charger_id, port_id,
           charge_attempt_start_ts AS step1_group_start_ts,
           lead(charge_attempt_start_ts) OVER (
               PARTITION BY charger_id, port_id ORDER BY charge_attempt_start_ts
           ) AS step1_group_end_ts
    FROM fv_s1_flags WHERE is_step1_group_start
),
fv_s1 AS (
    SELECT att.charge_attempt_id, att.charger_id, att.port_id,
           att.connector_id, att.charge_attempt_start_ts,
           att.charge_attempt_stop_ts, att.energy_transferred_kwh,
           att.location_id, att.is_successful,
           max(att.id_tag) OVER (
               PARTITION BY att.charger_id, att.port_id, b.step1_group_start_ts
           ) AS id_tag
    FROM fv_s1_bounds b
    JOIN fv_att att
        ON att.charger_id = b.charger_id AND att.port_id = b.port_id
       AND att.charge_attempt_start_ts >= b.step1_group_start_ts
       AND (b.step1_group_end_ts IS NULL
            OR att.charge_attempt_start_ts < b.step1_group_end_ts)
),
fv_s2_keys AS MATERIALIZED (
    SELECT *,
           CASE WHEN id_tag IS NOT NULL
                THEN location_id || '_' || id_tag
                ELSE location_id || '_' || charger_id || '_' || port_id
           END AS grouping_key,
           CASE WHEN id_tag IS NOT NULL THEN 30 ELSE 2 END AS time_window_minutes
    FROM fv_s1
),
fv_visit_bounds AS (
    SELECT grouping_key, charge_attempt_start_ts AS visit_start_ts,
           lead(charge_attempt_start_ts) OVER (
               PARTITION BY grouping_key ORDER BY charge_attempt_start_ts
           ) AS next_visit_start_ts
    FROM (SELECT *,
                 lag(charge_attempt_stop_ts) OVER (
                     PARTITION BY grouping_key ORDER BY charge_attempt_start_ts
                 ) AS prev_attempt_stop_ts
          FROM fv_s2_keys)
    WHERE prev_attempt_stop_ts IS NULL
       OR date_diff('minute', prev_attempt_stop_ts, charge_attempt_start_ts)
          > time_window_minutes
),
fv_grouped AS (
    SELECT att.*, b.visit_start_ts,
           b.visit_start_ts = att.charge_attempt_start_ts AS is_first_attempt,
           row_number() OVER (
               PARTITION BY att.grouping_key, b.visit_start_ts
               ORDER BY att.charge_attempt_start_ts DESC
           ) = 1 AS is_last_attempt
    FROM fv_s2_keys att
    JOIN fv_visit_bounds b
        ON att.grouping_key = b.grouping_key
       AND att.charge_attempt_start_ts >= b.visit_start_ts
       AND (b.next_visit_start_ts IS NULL
            OR att.charge_attempt_start_ts < b.next_visit_start_ts)
),
fv_new_visits AS (
    SELECT grouping_key, time_window_minutes, visit_start_ts,
           max(id_tag) AS id_tag,
           max(location_id) AS location_id,
           max(charge_attempt_stop_ts) AS visit_end_ts,
           count(*) AS charge_attempt_count,
           coalesce(list_sort(list_distinct(list(charge_attempt_id))), []) AS charge_attempt_ids,
           coalesce(list_sort(list_distinct(list(charger_id))), []) AS charger_ids,
           sum(coalesce(energy_transferred_kwh, 0)) AS total_energy_transferred_kwh,
           max(CASE WHEN is_last_attempt THEN is_successful END) AS is_successful,
           min(CASE WHEN is_first_attempt THEN charge_attempt_id END) AS first_charge_attempt_id,
           max(CASE WHEN is_last_attempt THEN charge_attempt_id END) AS last_charge_attempt_id,
           min(CASE WHEN is_first_attempt THEN charger_id END) AS first_charger_id,
           max(CASE WHEN is_last_attempt THEN charger_id END) AS last_charger_id,
           min(CASE WHEN is_first_attempt THEN port_id END) AS first_port_id,
           max(CASE WHEN is_last_attempt THEN port_id END) AS last_port_id
    FROM fv_grouped
    GROUP BY grouping_key, time_window_minutes, visit_start_ts
)"""

# Final projection over fv_new_visits — shared with the property test
# (tests/test_visits_property.py), which swaps the seed-compile CTE chain
# for generated attempt tables.
_FV_ORACLE_TAIL = f"""
SELECT {_sk('v.location_id', 'v.first_charger_id', 'v.first_port_id', 'v.visit_start_ts')} AS visit_id,
       {_sk('v.location_id')} AS location_key,
       {_sk("coalesce(v.id_tag, 'UNKNOWN')")} AS driver_key,
       {_sk('v.first_charger_id', 'v.first_port_id')} AS first_port_key,
       {_sk('v.last_charger_id', 'v.last_port_id')} AS last_port_key,
       v.location_id,
       CASE WHEN v.charger_ids IS NULL THEN NULL
            ELSE coalesce(array_to_string(v.charger_ids, '|'), '') END AS charger_ids,
       v.id_tag, v.visit_start_ts, v.visit_end_ts, v.charge_attempt_count,
       CASE WHEN v.charge_attempt_ids IS NULL THEN NULL
            ELSE coalesce(array_to_string(v.charge_attempt_ids, '|'), '') END AS charge_attempt_ids,
       CAST(v.total_energy_transferred_kwh AS DOUBLE) AS total_energy_transferred_kwh,
       v.first_charge_attempt_id, v.last_charge_attempt_id,
       v.first_charger_id, v.last_charger_id, v.first_port_id, v.last_port_id,
       v.is_successful, v.grouping_key,
       date_diff('minute', v.visit_start_ts, v.visit_end_ts) AS visit_duration_minutes,
       (SELECT incremental_ts FROM fv_incremental) AS incremental_ts
FROM fv_new_visits v
"""

_FV_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_PREPARING_CTES},
{_TRANSACTIONS_CTES},
{_ATTEMPTS_CTES},
{_VISITS_CTES}
{_FV_ORACLE_TAIL}
"""


@query(
    "ocpp_fact_visits",
    oracle=_FV_ORACLE,
    cite="models/marts/fact_visits.sql:1-459 (full-refresh compile; two-step "
    "sessionization, unit_tests.yml:35-990)",
)
def ocpp_fact_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mart_projection("fact_visits", _mart(spark, "fact_visits"))


# int_faulted_outages.sql + int_offline_outages.sql + fact_downtime_daily.sql
# + fact_charger_commissioned_daily.sql + fact_uptime.sql, full-refresh.
_UPTIME_CTES = """
ifo_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH AS to_ts
),
ifo_sc AS (
    SELECT charger_id, port_id, connector_id, ingested_ts, status,
           next_status, next_ingested_ts, incremental_ts
    FROM int_status_changes
    WHERE incremental_ts > (SELECT from_ts FROM ifo_window)
      AND incremental_ts <= (SELECT to_ts FROM ifo_window)
),
ifo_incremental AS (SELECT max(ingested_ts) AS incremental_ts FROM ifo_sc),
ifo_periods AS (
    SELECT charger_id, port_id, connector_id, ingested_ts AS from_ts,
           coalesce(next_ingested_ts, (SELECT to_ts FROM ifo_window)) AS to_ts
    FROM ifo_sc WHERE status = 'Faulted'
),
ifo_points AS (
    SELECT DISTINCT charger_id, port_id, time_point FROM (
        SELECT charger_id, port_id, from_ts AS time_point FROM ifo_periods
        UNION ALL
        SELECT charger_id, port_id, to_ts AS time_point FROM ifo_periods
    )
),
ifo_intervals AS (
    SELECT * FROM (
        SELECT charger_id, port_id, time_point AS from_ts,
               lead(time_point) OVER (
                   PARTITION BY charger_id, port_id ORDER BY time_point
               ) AS to_ts
        FROM ifo_points
    ) WHERE to_ts IS NOT NULL
),
ifo_counted AS (
    SELECT i.charger_id, i.port_id, i.from_ts, i.to_ts,
           count(DISTINCT fp.connector_id) AS faulted_connector_count
    FROM ifo_intervals i
    LEFT JOIN ifo_periods fp
        ON fp.charger_id = i.charger_id AND fp.port_id = i.port_id
       AND fp.from_ts <= i.to_ts AND fp.to_ts >= i.from_ts
    GROUP BY i.charger_id, i.port_id, i.from_ts, i.to_ts
),
ifo_all AS (
    SELECT c.charger_id, c.port_id, c.from_ts, c.to_ts
    FROM ifo_counted c
    JOIN int_ports pc ON c.charger_id = pc.charger_id AND c.port_id = pc.port_id
    WHERE c.faulted_connector_count = pc.connector_count AND pc.connector_count > 0
),
ifo_groups AS (
    SELECT *,
           sum(CASE WHEN prev_to_ts >= from_ts THEN 0 ELSE 1 END) OVER (
               PARTITION BY charger_id, port_id ORDER BY from_ts
               ROWS UNBOUNDED PRECEDING
           ) AS group_id
    FROM (SELECT *, lag(to_ts) OVER (
                        PARTITION BY charger_id, port_id ORDER BY from_ts
                    ) AS prev_to_ts
          FROM ifo_all)
),
int_faulted_outages AS MATERIALIZED (
    SELECT charger_id, port_id, min(from_ts) AS from_ts, max(to_ts) AS to_ts,
           date_diff('minute', min(from_ts), max(to_ts)) AS duration_minutes,
           (SELECT incremental_ts FROM ifo_incremental) AS incremental_ts
    FROM ifo_groups
    GROUP BY charger_id, port_id, group_id
    HAVING max(to_ts) > min(from_ts)
),
ioo_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           least(TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH,
                 (SELECT max(ingested_timestamp) FROM stg_ocpp_logs)) AS to_ts
),
ioo_context AS (
    SELECT charger_id,
           greatest(commissioned_ts, (SELECT from_ts FROM ioo_window)) AS monitoring_start_ts,
           least(coalesce(decommissioned_ts, (SELECT to_ts FROM ioo_window)),
                 (SELECT to_ts FROM ioo_window)) AS monitoring_end_ts
    FROM int_chargers
    WHERE commissioned_ts IS NOT NULL
      AND commissioned_ts < (SELECT to_ts FROM ioo_window)
      AND (decommissioned_ts IS NULL
           OR decommissioned_ts > (SELECT from_ts FROM ioo_window))
),
ioo_msgs AS MATERIALIZED (
    SELECT cc.charger_id, cc.monitoring_start_ts, cc.monitoring_end_ts,
           ol.ingested_timestamp
    FROM ioo_context cc
    JOIN stg_ocpp_logs ol
        ON cc.charger_id = ol.charger_id
       AND ol.ingested_timestamp >= cc.monitoring_start_ts
       AND ol.ingested_timestamp <= cc.monitoring_end_ts
       AND ol.ingested_timestamp >= (SELECT from_ts FROM ioo_window)
       AND ol.ingested_timestamp <= (SELECT to_ts FROM ioo_window)
       AND ol.message_type_id = '2'
       AND ol.action IN ('Authorize','BootNotification','DataTransfer',
                         'DiagnosticStatusNotification','FirmwareStatusNotification',
                         'Heartbeat','MeterValues','StartTransaction',
                         'StatusNotification','StopTransaction')
),
ioo_incremental AS (SELECT max(ingested_timestamp) AS incremental_ts FROM ioo_msgs),
ioo_gaps AS (
    SELECT charger_id, monitoring_start_ts, monitoring_end_ts,
           ingested_timestamp AS current_ts,
           lag(ingested_timestamp) OVER w AS prev_ts,
           lead(ingested_timestamp) OVER w AS next_ts
    FROM ioo_msgs
    WINDOW w AS (PARTITION BY charger_id ORDER BY ingested_timestamp)
),
ioo_new AS (
    SELECT charger_id, monitoring_start_ts AS from_ts, current_ts AS to_ts
    FROM ioo_gaps WHERE prev_ts IS NULL AND current_ts > monitoring_start_ts
    UNION ALL
    SELECT charger_id, prev_ts, current_ts
    FROM ioo_gaps WHERE prev_ts IS NOT NULL AND prev_ts < current_ts
    UNION ALL
    SELECT charger_id, current_ts, monitoring_end_ts
    FROM ioo_gaps WHERE next_ts IS NULL AND current_ts < monitoring_end_ts
    UNION ALL
    SELECT cc.charger_id, cc.monitoring_start_ts, cc.monitoring_end_ts
    FROM ioo_context cc
    WHERE NOT EXISTS (SELECT 1 FROM ioo_msgs cm WHERE cm.charger_id = cc.charger_id)
),
int_offline_outages AS MATERIALIZED (
    SELECT charger_id, from_ts, to_ts,
           date_diff('second', from_ts, to_ts) / 60 AS duration_minutes,
           (SELECT incremental_ts FROM ioo_incremental) AS incremental_ts
    FROM ioo_new
    WHERE date_diff('second', from_ts, to_ts) > 300
),
fdd_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' - INTERVAL 1440 MINUTE AS buffer_from_ts,
           TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH AS to_ts
),
fdd_faulted AS (
    SELECT f.charger_id, f.port_id, f.from_ts, f.to_ts, f.duration_minutes,
           f.incremental_ts, 'FAULTED' AS reason
    FROM int_faulted_outages f
    JOIN (SELECT charger_id, port_id FROM int_ports) p
        ON f.charger_id = p.charger_id AND f.port_id = p.port_id
    WHERE f.incremental_ts > (SELECT buffer_from_ts FROM fdd_window)
      AND f.incremental_ts <= (SELECT to_ts FROM fdd_window)
),
fdd_offline AS (
    SELECT o.charger_id, p.port_id, o.from_ts, o.to_ts, o.duration_minutes,
           o.incremental_ts, 'OFFLINE' AS reason
    FROM int_offline_outages o
    JOIN (SELECT charger_id, port_id FROM int_ports) p
        ON o.charger_id = p.charger_id
    WHERE o.incremental_ts > (SELECT buffer_from_ts FROM fdd_window)
      AND o.incremental_ts <= (SELECT to_ts FROM fdd_window)
      AND NOT EXISTS (
          SELECT 1 FROM fdd_faulted f
          WHERE f.charger_id = o.charger_id AND f.port_id = p.port_id
            AND o.from_ts >= f.from_ts AND o.from_ts < f.to_ts
      )
),
fdd_outages AS (
    SELECT * FROM fdd_offline UNION ALL SELECT * FROM fdd_faulted
),
fdd_perday AS (
    SELECT charger_id, port_id, date_id, reason,
           date_diff('minute',
                     greatest(from_ts, CAST(date_id AS TIMESTAMP)),
                     least(to_ts, CAST(date_id + 1 AS TIMESTAMP))) AS duration_minutes
    FROM (SELECT charger_id, port_id, reason, from_ts, to_ts,
                 CAST(unnest(generate_series(CAST(from_ts AS DATE),
                                             CAST(to_ts AS DATE),
                                             INTERVAL 1 DAY)) AS DATE) AS date_id
          FROM fdd_outages)
),
fact_downtime_daily AS MATERIALIZED (
    SELECT date_id, charger_id, port_id, reason,
           sum(duration_minutes) AS duration_minutes
    FROM fdd_perday
    GROUP BY date_id, charger_id, port_id, reason
),
fccd AS (
    SELECT charger_id, date_id, minutes FROM (
        SELECT charger_id, date_id,
               greatest(0, date_diff('minute',
                   greatest(commissioned_ts, CAST(date_id AS TIMESTAMP)),
                   least(decommissioned_ts, CAST(date_id + 1 AS TIMESTAMP)))) AS minutes
        FROM (SELECT charger_id, commissioned_ts, decommissioned_ts,
                     CAST(unnest(generate_series(CAST(commissioned_ts AS DATE),
                                                 CAST(decommissioned_ts AS DATE),
                                                 INTERVAL 1 DAY)) AS DATE) AS date_id
              FROM (SELECT charger_id, commissioned_ts,
                           coalesce(decommissioned_ts, now()::TIMESTAMP) AS decommissioned_ts
                    FROM int_chargers WHERE commissioned_ts IS NOT NULL))
    ) WHERE minutes > 0
),
fact_uptime AS (
    SELECT s.charger_id, p.port_id, s.date_id,
           s.minutes AS minutes_commissioned,
           coalesce(d.total_downtime_minutes, 0) AS total_downtime_minutes,
           ch.location_id
    FROM fccd s
    JOIN (SELECT charger_id, port_id FROM int_ports) p
        ON s.charger_id = p.charger_id
    LEFT JOIN (SELECT date_id, charger_id, port_id,
                      sum(duration_minutes) AS total_downtime_minutes
               FROM fact_downtime_daily
               GROUP BY date_id, charger_id, port_id) d
        ON s.charger_id = d.charger_id AND p.port_id = d.port_id
       AND s.date_id = d.date_id
    LEFT JOIN int_chargers ch ON s.charger_id = ch.charger_id
    WHERE s.minutes > 0
)"""

_FU_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_UPTIME_CTES}
SELECT {_sk('charger_id', 'port_id', 'date_id')} AS uptime_id,
       {_sk('charger_id', 'port_id')} AS port_key,
       CASE WHEN location_id IS NOT NULL THEN {_sk('location_id')} END AS location_key,
       charger_id, port_id, date_id,
       (minutes_commissioned - total_downtime_minutes) / minutes_commissioned AS uptime
FROM fact_uptime
WHERE date_id <= DATE '2026-01-01'
"""


@query(
    "ocpp_fact_uptime",
    oracle=_FU_ORACLE,
    cite="models/marts/fact_uptime.sql:1-70; fact_downtime_daily.sql:1-150; "
    "int_faulted_outages.sql:1-210; int_offline_outages.sql:1-195; "
    "fact_charger_commissioned_daily.sql (full-refresh compile)",
)
def ocpp_fact_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uptime rows bounded to the processing window end (2026-01-01) so
    the still-commissioned charger's open-ended span (coalesce to NOW in
    both engines) cannot leak a clock-dependent partial day into the
    compared output."""
    return mart_projection("fact_uptime", _mart(spark, "fact_uptime"))


# int_meter_values.sql + fact_interval_data.sql, full-refresh (double JSON
# unnest of MeterValues payloads → per-transaction context → 15-min
# interval averages).
_METER_CTES = """
imv_window AS (
    SELECT greatest(TIMESTAMP '2025-10-01 00:00:00',
                    (SELECT min(ingested_timestamp) FROM stg_ocpp_logs)) AS from_ts
),
imv_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp AS ingested_ts,
           message_type_id, payload
    FROM stg_ocpp_logs, imv_window
    WHERE ingested_timestamp > from_ts
      AND ingested_timestamp <= from_ts + INTERVAL 3 MONTH
),
imv_incremental AS (SELECT max(ingested_ts) AS incremental_ts FROM imv_logs),
imv_measurements AS MATERIALIZED (
    SELECT l.charger_id, l.ingested_ts AS log_ingested_ts,
           json_extract_string(l.payload, '$.connectorId') AS connector_id,
           json_extract_string(l.payload, '$.transactionId') AS transaction_id,
           CAST(json_extract_string(mv.mv, '$.timestamp') AS TIMESTAMP) AS meter_timestamp,
           json_extract_string(sv.sv, '$.measurand') AS measurand,
           json_extract_string(sv.sv, '$.value') AS value,
           json_extract_string(sv.sv, '$.unit') AS unit,
           json_extract_string(sv.sv, '$.phase') AS phase
    FROM imv_logs l,
         UNNEST(coalesce(CAST(json_extract(l.payload, '$.meterValue') AS JSON[]), [])) AS mv(mv),
         UNNEST(coalesce(CAST(json_extract(mv.mv, '$.sampledValue') AS JSON[]), [])) AS sv(sv)
    WHERE l.action = 'MeterValues' AND l.message_type_id = '2'
      AND mv.mv IS NOT NULL
),
imv_with_tx AS MATERIALIZED (
    SELECT m.charger_id, m.transaction_id, m.connector_id,
           t.ingested_ts, m.meter_timestamp, m.measurand, m.value, m.unit, m.phase
    FROM imv_measurements m
    LEFT JOIN int_transactions t
        ON m.charger_id = t.charger_id AND m.connector_id = t.connector_id
       AND m.transaction_id = t.transaction_id
       AND m.log_ingested_ts >= t.ingested_ts
       AND m.log_ingested_ts <= t.last_ingested_ts
),
int_meter_values AS MATERIALIZED (
    SELECT a.*, c.port_id, ch.location_id,
           (SELECT incremental_ts FROM imv_incremental) AS incremental_ts
    FROM (SELECT charger_id, transaction_id, connector_id, ingested_ts,
                 measurand, unit, phase,
                 min(meter_timestamp) AS first_measurement_ts,
                 max(meter_timestamp) AS last_measurement_ts,
                 min(CAST(value AS FLOAT)) AS min_value,
                 max(CAST(value AS FLOAT)) AS max_value,
                 avg(CAST(value AS FLOAT)) AS avg_value,
                 count(*) AS _count
          FROM imv_with_tx
          WHERE value IS NOT NULL AND value <> ''
          GROUP BY charger_id, transaction_id, connector_id, ingested_ts,
                   measurand, unit, phase) a
    LEFT JOIN int_connectors c
        ON a.charger_id = c.charger_id AND a.connector_id = c.connector_id
    LEFT JOIN int_chargers ch ON a.charger_id = ch.charger_id
),
fid_window AS (
    SELECT w.from_ts,
           least(w.from_ts + INTERVAL 3 MONTH,
                 (SELECT max(incremental_ts) FROM int_meter_values)) AS to_ts
    FROM imv_window w
),
fid_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp AS ingested_ts,
           message_type_id, payload
    FROM stg_ocpp_logs, fid_window
    WHERE ingested_timestamp > from_ts AND ingested_timestamp <= to_ts
),
fid_incremental AS (SELECT max(ingested_ts) AS incremental_ts FROM fid_logs),
fid_measurements AS MATERIALIZED (
    SELECT l.charger_id, l.ingested_ts AS log_ingested_ts,
           json_extract_string(l.payload, '$.connectorId') AS connector_id,
           json_extract_string(l.payload, '$.transactionId') AS transaction_id,
           CAST(json_extract_string(mv.mv, '$.timestamp') AS TIMESTAMP) AS meter_timestamp,
           json_extract_string(sv.sv, '$.measurand') AS measurand,
           json_extract_string(sv.sv, '$.value') AS value,
           json_extract_string(sv.sv, '$.unit') AS unit,
           json_extract_string(sv.sv, '$.phase') AS phase
    FROM fid_logs l,
         UNNEST(coalesce(CAST(json_extract(l.payload, '$.meterValue') AS JSON[]), [])) AS mv(mv),
         UNNEST(coalesce(CAST(json_extract(mv.mv, '$.sampledValue') AS JSON[]), [])) AS sv(sv)
    WHERE l.action = 'MeterValues' AND l.message_type_id = '2'
      AND mv.mv IS NOT NULL
),
fid_context AS (
    SELECT charger_id AS mv_charger_id, transaction_id AS mv_transaction_id,
           connector_id AS mv_connector_id, measurand AS mv_measurand,
           unit AS mv_unit, phase AS mv_phase, ingested_ts, port_id, location_id,
           date_trunc('minute', first_measurement_ts)
               - INTERVAL 1 MINUTE * (CAST(EXTRACT(minute FROM first_measurement_ts) AS INT) % 15)
               AS first_interval,
           date_trunc('minute', last_measurement_ts)
               - INTERVAL 1 MINUTE * (CAST(EXTRACT(minute FROM last_measurement_ts) AS INT) % 15)
               AS last_interval,
           first_measurement_ts, last_measurement_ts
    FROM int_meter_values
),
fid_joined AS (
    SELECT m.*, c.ingested_ts, c.port_id, c.location_id,
           c.first_interval, c.last_interval,
           c.first_measurement_ts, c.last_measurement_ts,
           date_trunc('minute', m.meter_timestamp)
               - INTERVAL 1 MINUTE * (CAST(EXTRACT(minute FROM m.meter_timestamp) AS INT) % 15)
               AS meter_15min_interval_start
    FROM fid_measurements m
    LEFT JOIN fid_context c
        ON m.charger_id = c.mv_charger_id
       AND m.connector_id = c.mv_connector_id
       AND m.transaction_id = c.mv_transaction_id
       AND m.measurand = c.mv_measurand
       AND m.unit = c.mv_unit
       AND ((m.phase IS NULL AND c.mv_phase IS NULL) OR m.phase = c.mv_phase)
       AND m.meter_timestamp >= c.first_measurement_ts
       AND m.meter_timestamp <= c.last_measurement_ts
),
fid_intervals AS (
    SELECT charger_id, transaction_id, connector_id, port_id, location_id,
           ingested_ts,
           CASE WHEN meter_15min_interval_start = first_interval
                THEN first_measurement_ts
                ELSE meter_15min_interval_start
           END AS meter_15min_interval_start,
           CASE WHEN meter_15min_interval_start = last_interval
                THEN last_measurement_ts
                ELSE meter_15min_interval_start + INTERVAL 15 MINUTE
           END AS meter_15min_interval_stop,
           measurand, unit, phase, value
    FROM fid_joined
    WHERE value IS NOT NULL AND value <> ''
),
fact_interval_data AS (
    SELECT charger_id, transaction_id, connector_id, port_id, location_id,
           ingested_ts, meter_15min_interval_start, meter_15min_interval_stop,
           measurand, unit, phase,
           avg(CAST(value AS FLOAT)) AS avg_value,
           count(*) AS _count
    FROM fid_intervals
    GROUP BY charger_id, transaction_id, connector_id, port_id, location_id,
             ingested_ts, meter_15min_interval_start, meter_15min_interval_stop,
             measurand, unit, phase
)"""

_FID_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_PREPARING_CTES},
{_TRANSACTIONS_CTES},
{_METER_CTES}
SELECT {_sk('charger_id', 'transaction_id', 'ingested_ts', 'connector_id',
            'measurand', 'unit', 'phase', 'meter_15min_interval_start')} AS interval_data_id,
       CASE WHEN port_id IS NOT NULL THEN {_sk('charger_id', 'port_id')} END AS port_key,
       CASE WHEN location_id IS NOT NULL THEN {_sk('location_id')} END AS location_key,
       charger_id, transaction_id, ingested_ts, connector_id, measurand, unit,
       phase, meter_15min_interval_start, meter_15min_interval_stop,
       avg_value, CAST(_count AS BIGINT) AS _count,
       (SELECT incremental_ts FROM fid_incremental) AS incremental_ts
FROM fact_interval_data
"""


@query(
    "ocpp_fact_interval_data",
    oracle=_FID_ORACLE,
    cite="models/marts/fact_interval_data.sql:1-289; "
    "int_meter_values.sql:1-282 (full-refresh compile; double JSON unnest, "
    "15-min interval averages)",
)
def ocpp_fact_interval_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mart_projection("fact_interval_data", _mart(spark, "fact_interval_data"))


# ---------------------------------------------------------------------------
# Incremental engine under the driver gate (SURVEY §2.8): run
# int_status_changes in TWO batches through ParquetStateStore (its
# clustered, date-partitioned layout) — batch 1 sees only logs before
# the cutoff (full-refresh branch, no prior state), batch 2 sees the
# whole source (incremental branch: window from the stored watermark,
# 30-min look-back buffer of open rows, partition-scoped MERGE) — and
# return the merged state. The oracle replays the exact same two-batch
# lifecycle in DuckDB:
# b1 = full-refresh compile over the pre-cutoff slice, b2 = the
# incremental branch (buffer union + coalesced lag stitch) compiled
# from int_status_changes.sql:90-205, merge = anti-join on the model's
# unique key (int_status_changes.sql:4 unique_key) ∪ batch output.
# ---------------------------------------------------------------------------

_INC_CUTOFF = "2025-10-08T00"  # raw ISO string; seed format 2025-10-0xT..Z

_INC_STATUS_COLS = (
    "charger_id", "connector_id", "port_id", "ingested_ts", "unique_id",
    "status", "error_code", "payload_ts", "confirmation_ingested_ts",
    "previous_status", "previous_ingested_ts", "previous_payload_ts",
    "next_status", "next_ingested_ts", "next_payload_ts", "incremental_ts",
)

_INC_STATUS_ORACLE = f"""
WITH {_STG_CTES},
b1_src AS MATERIALIZED (
    SELECT * FROM stg_ocpp_logs
    WHERE ingested_timestamp < TIMESTAMP '2025-10-08 00:00:00'
),
b1_window AS (
    SELECT greatest(TIMESTAMP '2025-10-01 00:00:00',
                    (SELECT min(ingested_timestamp) FROM b1_src)) AS from_ts
),
b1_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp, message_type_id, payload, unique_id
    FROM b1_src, b1_window
    WHERE ingested_timestamp > from_ts
      AND ingested_timestamp <= from_ts + INTERVAL 3 MONTH
),
b1_inc AS (SELECT max(ingested_timestamp) AS incremental_ts FROM b1_logs),
b1_req AS (
    SELECT ingested_timestamp, charger_id, unique_id,
           json_extract_string(payload, '$.connectorId') AS connector_id,
           json_extract_string(payload, '$.status') AS status,
           json_extract_string(payload, '$.errorCode') AS error_code,
           CAST(json_extract_string(payload, '$.timestamp') AS TIMESTAMP) AS payload_ts
    FROM b1_logs
    WHERE action = 'StatusNotification' AND message_type_id = '2'
),
b1_conf AS (
    SELECT r.charger_id, r.connector_id, c.port_id,
           r.ingested_timestamp AS ingested_ts, r.unique_id, r.status,
           r.error_code, r.payload_ts,
           cf.ingested_timestamp AS confirmation_ingested_ts
    FROM b1_req r
    LEFT JOIN int_connectors c
        ON r.charger_id = c.charger_id AND r.connector_id = c.connector_id
    LEFT JOIN b1_logs cf
        ON cf.unique_id = r.unique_id AND cf.message_type_id = '3'
       AND cf.ingested_timestamp >= r.ingested_timestamp
       AND cf.ingested_timestamp <= r.ingested_timestamp + INTERVAL 15 SECOND
),
b1_lag AS (
    SELECT *,
           lag(status) OVER w AS previous_status,
           lag(ingested_ts) OVER w AS previous_ingested_ts,
           lag(payload_ts) OVER w AS previous_payload_ts
    FROM b1_conf
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
),
b1_change AS (
    SELECT * FROM b1_lag WHERE previous_status IS NULL OR previous_status <> status
),
b1_state AS MATERIALIZED (
    SELECT *,
           lead(status) OVER w AS next_status,
           lead(ingested_ts) OVER w AS next_ingested_ts,
           lead(payload_ts) OVER w AS next_payload_ts,
           (SELECT incremental_ts FROM b1_inc) AS incremental_ts
    FROM b1_change
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
),
b2_window AS (
    SELECT (SELECT max(incremental_ts) FROM b1_state) AS from_ts
),
b2_logs AS MATERIALIZED (
    SELECT charger_id, action, ingested_timestamp, message_type_id, payload, unique_id
    FROM stg_ocpp_logs, b2_window
    WHERE ingested_timestamp > from_ts
      AND ingested_timestamp <= from_ts + INTERVAL 3 MONTH
),
b2_inc AS (SELECT max(ingested_timestamp) AS incremental_ts FROM b2_logs),
b2_req AS (
    SELECT ingested_timestamp, charger_id, unique_id,
           json_extract_string(payload, '$.connectorId') AS connector_id,
           json_extract_string(payload, '$.status') AS status,
           json_extract_string(payload, '$.errorCode') AS error_code,
           CAST(json_extract_string(payload, '$.timestamp') AS TIMESTAMP) AS payload_ts
    FROM b2_logs
    WHERE action = 'StatusNotification' AND message_type_id = '2'
),
b2_conf AS (
    SELECT r.charger_id, r.connector_id, c.port_id,
           r.ingested_timestamp AS ingested_ts, r.unique_id, r.status,
           r.error_code, r.payload_ts,
           cf.ingested_timestamp AS confirmation_ingested_ts
    FROM b2_req r
    LEFT JOIN int_connectors c
        ON r.charger_id = c.charger_id AND r.connector_id = c.connector_id
    LEFT JOIN b2_logs cf
        ON cf.unique_id = r.unique_id AND cf.message_type_id = '3'
       AND cf.ingested_timestamp >= r.ingested_timestamp
       AND cf.ingested_timestamp <= r.ingested_timestamp + INTERVAL 15 SECOND
),
b2_buffer AS (
    SELECT charger_id, connector_id, port_id, ingested_ts, unique_id, status,
           error_code, payload_ts, confirmation_ingested_ts,
           previous_status, previous_ingested_ts, previous_payload_ts
    FROM b1_state, b2_window
    WHERE ingested_ts >= from_ts - INTERVAL 30 MINUTE
      AND ingested_ts <= from_ts
      AND next_status IS NULL
),
b2_union AS (
    SELECT charger_id, connector_id, port_id, ingested_ts, unique_id, status,
           error_code, payload_ts, confirmation_ingested_ts,
           CAST(NULL AS VARCHAR) AS previous_status,
           CAST(NULL AS TIMESTAMP) AS previous_ingested_ts,
           CAST(NULL AS TIMESTAMP) AS previous_payload_ts
    FROM b2_conf
    UNION ALL
    SELECT * FROM b2_buffer
),
b2_lag AS (
    SELECT charger_id, connector_id, port_id, ingested_ts, unique_id, status,
           error_code, payload_ts, confirmation_ingested_ts,
           coalesce(previous_status, lag(status) OVER w) AS previous_status,
           coalesce(previous_ingested_ts, lag(ingested_ts) OVER w) AS previous_ingested_ts,
           coalesce(previous_payload_ts, lag(payload_ts) OVER w) AS previous_payload_ts
    FROM b2_union
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
),
b2_change AS (
    SELECT * FROM b2_lag WHERE previous_status IS NULL OR previous_status <> status
),
b2_out AS MATERIALIZED (
    SELECT *,
           lead(status) OVER w AS next_status,
           lead(ingested_ts) OVER w AS next_ingested_ts,
           lead(payload_ts) OVER w AS next_payload_ts,
           (SELECT incremental_ts FROM b2_inc) AS incremental_ts
    FROM b2_change
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
),
merged AS (
    SELECT {', '.join(_INC_STATUS_COLS)} FROM b2_out
    UNION ALL
    SELECT {', '.join(_INC_STATUS_COLS)} FROM b1_state b1
    WHERE NOT EXISTS (
        SELECT 1 FROM b2_out n
        WHERE n.charger_id = b1.charger_id
          AND n.connector_id = b1.connector_id
          AND n.ingested_ts = b1.ingested_ts
    )
)
SELECT {', '.join(_INC_STATUS_COLS)} FROM merged
"""


@query(
    "ocpp_incremental_status",
    oracle=_INC_STATUS_ORACLE,
    cite="int_status_changes.sql:1-225 (incremental branch: window macro "
    "macros/incremental_date_range.sql, 30-min buffer :90-146, merge on "
    "unique_key :4); plans/incremental.py ParquetStateStore (clustered layout)",
)
def ocpp_incremental_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental lifecycle of int_status_changes through the
    date-partitioned state store; returns the post-merge state (sf_dir
    ignored — the demo seed is the canonical fixture both engines read)."""
    import shutil
    import tempfile

    from kwwhat_spark.plans.incremental import IncrementalRunner, ParquetStateStore
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    sources = load_ocpp_sources(spark)
    state_dir = tempfile.mkdtemp(prefix="kwh-inc-status-")
    try:
        store = ParquetStateStore(spark, state_dir)
        runner = IncrementalRunner(spark, store)
        batch1 = {
            **sources,
            "raw_ocpp_logs": sources["raw_ocpp_logs"].filter(
                F.col("timestamp") < _INC_CUTOFF
            ),
        }
        runner.run_batch(
            batch1,
            models=["int_status_changes"],
            overrides={"stg_ocpp_logs": _staged_cutoff(spark)},
        )
        runner.run_batch(
            sources,
            models=["int_status_changes"],
            overrides={"stg_ocpp_logs": _staged_logs(spark)},
        )
        out = store.read("int_status_changes").select(*_INC_STATUS_COLS)
        # Pin the result before the state directory disappears.
        return keep(out.localCheckpoint(eager=True))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Cross-MODEL incremental chain under the gate (round-3 verdict #8):
# two batches of the real 5-model chain (int_status_changes →
# int_connector_latest_status / int_transactions / int_connector_preparing
# → fact_charge_attempts) through ParquetStateStore, so the
# upstream-watermark capping the reference does in
# fact_charge_attempts.sql:19-28 is exercised across model boundaries.
# Oracle form: CONVERGENCE — a correct chain's merged mart equals the
# full-refresh compile on every batch-stable column (the exact property
# dbt guarantees for this DAG). Columns whose value links rows across a
# batch boundary (previous_status/next_status — the 30-min look-back
# buffer stitches only within its horizon, by reference design,
# int_status_changes.sql:90-109) and the per-batch incremental_ts are
# excluded here and pinned instead by the per-model lifecycle entry
# (ocpp_incremental_status) and the transcribed dbt incremental units.
# A watermark-propagation bug (batch 2 recomputing attempts over
# not-yet-merged status rows) produces missing/extra/shifted rows and
# fails this hash.
# ---------------------------------------------------------------------------

_CHAIN_SKIP_COLS = ("previous_status", "next_status", "incremental_ts")
_FCA_PROJ_COLS = (
    "charge_attempt_id", "port_key", "location_key", "charger_id",
    "connector_id", "charge_attempt_start_ts", "charge_attempt_stop_ts",
    "preparing_unique_id", "preparing_ingested_ts", "preparing_payload_ts",
    "preparing_next_payload_ts", "previous_status", "status", "next_status",
    "id_tags", "id_tag_statuses", "id_tag", "id_tag_status",
    "transaction_id", "transaction_ingested_ts", "transaction_start_ts",
    "transaction_stop_ts", "transaction_stop_reason", "meter_start_wh",
    "meter_stop_wh", "energy_transferred_kwh", "error_codes",
    "is_successful", "incremental_ts",
)

_INC_CHAIN_ORACLE = (
    "SELECT "
    + ", ".join(c for c in _FCA_PROJ_COLS if c not in _CHAIN_SKIP_COLS)
    + f" FROM ({_FCA_ORACLE}) fca_full"
)


@query(
    "ocpp_incremental_attempts_chain",
    oracle=_INC_CHAIN_ORACLE,
    cite="fact_charge_attempts.sql:19-28 (upstream-watermark capping) + "
    ":1-282; int_status_changes.sql:90-146 buffer; plans/incremental.py "
    "IncrementalRunner chain execution",
)
def ocpp_incremental_attempts_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch lifecycle of the status→attempts model chain through
    the date-partitioned state store; returns the merged
    fact_charge_attempts state on its batch-stable columns (sf_dir
    ignored — the demo seed is the canonical fixture)."""
    import shutil
    import tempfile

    from kwwhat_spark.plans.incremental import IncrementalRunner, ParquetStateStore
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    chain = [
        "int_status_changes", "int_connector_latest_status",
        "int_transactions", "int_connector_preparing", "fact_charge_attempts",
    ]
    sources = load_ocpp_sources(spark)
    state_dir = tempfile.mkdtemp(prefix="kwh-inc-chain-")
    try:
        store = ParquetStateStore(spark, state_dir)
        runner = IncrementalRunner(spark, store)
        batch1 = {
            **sources,
            "raw_ocpp_logs": sources["raw_ocpp_logs"].filter(
                F.col("timestamp") < _INC_CUTOFF
            ),
        }
        runner.run_batch(
            batch1,
            models=chain,
            overrides={"stg_ocpp_logs": _staged_cutoff(spark)},
        )
        runner.run_batch(
            sources,
            models=chain,
            overrides={"stg_ocpp_logs": _staged_logs(spark)},
        )
        out = mart_projection(
            "fact_charge_attempts", store.read("fact_charge_attempts")
        ).drop(*_CHAIN_SKIP_COLS)
        return keep(out.localCheckpoint(eager=True))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming path under the driver gate (SURVEY §2.9 extension): the
# stateful change-point stream (streaming/ocpp.py stream_status_changes,
# applyInPandasWithState) run with an availableNow trigger over the demo
# seed. The oracle is the change-point semantics compiled to DuckDB —
# lag over ALL StatusNotification CALLs (a stream has no batch window),
# change filter — so the STREAMING executor itself sits under the
# value-hash gate, not just its batch twin.
# ---------------------------------------------------------------------------

_STREAM_STATUS_ORACLE = f"""
WITH {_STG_CTES},
ss_req AS (
    SELECT charger_id,
           json_extract_string(payload, '$.connectorId') AS connector_id,
           ingested_timestamp AS ingested_ts,
           json_extract_string(payload, '$.status') AS status,
           json_extract_string(payload, '$.errorCode') AS error_code,
           CAST(json_extract_string(payload, '$.timestamp') AS TIMESTAMP) AS payload_ts
    FROM stg_ocpp_logs
    WHERE action = 'StatusNotification' AND message_type_id = '2'
),
ss_lag AS (
    SELECT *,
           lag(status) OVER w AS previous_status,
           lag(ingested_ts) OVER w AS previous_ingested_ts
    FROM ss_req
    WINDOW w AS (PARTITION BY charger_id, connector_id ORDER BY ingested_ts)
)
SELECT charger_id, connector_id, ingested_ts, status, error_code, payload_ts,
       previous_status, previous_ingested_ts
FROM ss_lag
WHERE previous_status IS NULL OR previous_status <> status
"""


def _run_seed_stream(spark: SparkSession, build, prefix: str) -> DataFrame:
    """Stream the demo-seed OCPP log through `build(staged)` end-to-end
    (availableNow → memory sink) and return the emitted rows."""
    import shutil
    import tempfile
    import uuid

    from kwwhat_spark.sources.ocpp import DEMO_SEED_DIR
    from kwwhat_spark.streaming import read_ocpp_stream, stage_stream

    stream_dir = tempfile.mkdtemp(prefix=f"kwh-stream-{prefix}-")
    name = f"stream_{prefix}_gate_{uuid.uuid4().hex[:8]}"
    try:
        shutil.copy(
            f"{DEMO_SEED_DIR}/ocpp_1_6_synthetic_logs_14d.csv",
            f"{stream_dir}/logs.csv",
        )
        staged = stage_stream(read_ocpp_stream(spark, stream_dir))
        q = (
            build(staged)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                f"availableNow stream {name} still running after 120s; "
                "refusing to read a partially-populated memory sink"
            )
        out = keep(spark.table(name).localCheckpoint(eager=True))
        spark.catalog.dropTempView(name)
        return out
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)


@query(
    "ocpp_stream_status_changes",
    oracle=_STREAM_STATUS_ORACLE,
    cite="int_status_changes.sql:164-189 change-point semantics; "
    "streaming/ocpp.py:134-196 (applyInPandasWithState executor)",
)
def ocpp_stream_status_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful streaming change-point detector end-to-end
    (availableNow → memory sink) on the demo seed and return its rows
    (sf_dir ignored — the seed is the canonical fixture)."""
    from kwwhat_spark.streaming import stream_status_changes

    return _run_seed_stream(spark, stream_status_changes, "status")


# ---------------------------------------------------------------------------
# Chat-BI layer under the driver gate (SURVEY §3.3): the deterministic
# NL router answers the reference's entity-count prompt family over the
# semantic dims, and the oracle recomputes each count from the staged
# entity tables. Entity metrics are point-in-time (clock-free), so the
# comparison is fully deterministic; the windowed uptime/rate metrics
# are pinned by tests/test_bi_router.py against the reference's own SQL.
# ---------------------------------------------------------------------------

_BI_ENTITIES_ORACLE = f"""
WITH {_STG_CTES}
SELECT
    (SELECT count(DISTINCT port_id) FROM int_ports) AS total_ports,
    (SELECT count(DISTINCT charger_id) FROM int_chargers) AS total_chargers,
    (SELECT count(DISTINCT md5(concat_ws('-',
         coalesce(CAST(charger_id AS VARCHAR), '{_SK_NULL}'),
         coalesce(CAST(port_id AS VARCHAR), '{_SK_NULL}'),
         coalesce(CAST(connector_id AS VARCHAR), '{_SK_NULL}'))))
     FROM int_connectors) AS total_connectors,
    (SELECT count(DISTINCT location_id) FROM int_chargers) AS total_locations,
    (SELECT count(*) FROM int_ports p JOIN int_chargers c USING (charger_id)
     WHERE c.decommissioned_ts IS NOT NULL) AS decommissioned_ports
"""


# Period-over-period path (RULES.md "always include period-over-period
# change in pp") under the gate: a windowed MULTI-mart question
# (fact_uptime + fact_charge_attempts) through bi.period_over_period at
# a PINNED as-of anchor — fact_uptime extends to wall-clock via the
# open-ended commissioned span, so only an explicit anchor makes the
# two windows reproducible cross-engine. The oracle replays both
# windows from the same anchor literal over the mart CTE compiles.
_BI_POP_ANCHOR = "2025-10-15 00:00:00"

_BI_POP_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_PREPARING_CTES},
{_TRANSACTIONS_CTES},
{_ATTEMPTS_CTES},
{_UPTIME_CTES},
uptime_rows AS (
    SELECT CAST(date_id AS TIMESTAMP) AS ts,
           (minutes_commissioned - total_downtime_minutes) / minutes_commissioned AS uptime
    FROM fact_uptime
),
att_rows AS (
    SELECT charge_attempt_start_ts AS ts, is_successful FROM fact_charge_attempts
),
anchor AS (SELECT TIMESTAMP '{_BI_POP_ANCHOR}' AS a),
vals AS (
    SELECT
        (SELECT round(100 * avg(uptime), 2) FROM uptime_rows, anchor
          WHERE ts > a - INTERVAL 7 DAY AND ts <= a) AS up_cur,
        (SELECT round(100 * avg(uptime), 2) FROM uptime_rows, anchor
          WHERE ts > a - INTERVAL 14 DAY AND ts <= a - INTERVAL 7 DAY) AS up_prev,
        (SELECT round(100 * (1 - avg(CASE WHEN is_successful THEN 1.0 ELSE 0.0 END)), 2)
          FROM att_rows, anchor
          WHERE ts > a - INTERVAL 7 DAY AND ts <= a) AS fail_cur,
        (SELECT round(100 * (1 - avg(CASE WHEN is_successful THEN 1.0 ELSE 0.0 END)), 2)
          FROM att_rows, anchor
          WHERE ts > a - INTERVAL 14 DAY AND ts <= a - INTERVAL 7 DAY) AS fail_prev
),
melted AS (
    SELECT 'avg_uptime_pct' AS metric, up_cur AS value, up_prev AS previous_value FROM vals
    UNION ALL
    SELECT 'failed_attempt_rate_pct', fail_cur, fail_prev FROM vals
)
SELECT metric, value, previous_value,
       round(value - previous_value, 2) AS delta_pp
FROM melted
"""


@query(
    "ocpp_chat_bi_pop",
    oracle=_BI_POP_ORACLE,
    cite="demo/chat-bi/RULES.md period-over-period rule (lately_snapshot"
    ".yml metric pair); bi.py period_over_period/_shifted_where at an "
    "explicit as-of anchor",
)
def ocpp_chat_bi_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two windowed metrics (uptime, failed attempt rate) with their
    previous-period values and pp deltas, both windows pinned to the
    same as-of anchor (sf_dir ignored — the seed is the canonical
    fixture)."""
    from kwwhat_spark import bi
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark))
    # Reuse the session-shared checkpointed marts (_MART_CACHE): the BI
    # ask only aggregates them, so rebuilding the DAG here would double
    # the gate cost of this entry for no coverage.
    for n in ("fact_uptime", "fact_charge_attempts"):
        pipe.overrides[n] = _mart(spark, n)
    return bi.period_over_period(
        pipe,
        "What is our average uptime and failed attempt rate lately?",
        anchor=f"timestamp'{_BI_POP_ANCHOR}'",
    )


@query(
    "ocpp_chat_bi_entities",
    oracle=_BI_ENTITIES_ORACLE,
    cite="demo/chat-bi tests (total_ports.yml, decommissioned_ports_check"
    ".yml prompt family); bi.py route/compile over the semantic dims",
)
def ocpp_chat_bi_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five NL entity prompts through bi.ask on the demo seed, combined
    into one row (sf_dir ignored — the seed is the canonical fixture)."""
    from kwwhat_spark import bi
    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark))
    out = bi.ask(pipe, "How many ports do we have?")
    for prompt in (
        "How many chargers do we have?",
        "How many connectors do we have?",
        "How many locations do we have?",
        "How many decommissioned ports do we have?",
    ):
        out = out.crossJoin(bi.ask(pipe, prompt))
    return out


# ---------------------------------------------------------------------------
# Streaming OCPP marts under the driver gate (VERDICT r6 item 4): the
# session-window visit stream and the windowed 15-min interval stream,
# each with an emission-boundary-aware DuckDB oracle — append mode emits
# a window/session only once the final watermark (max event time, delay
# 0 s on the gate fixture) passes its end, non-strict (`end <= wm`, the
# probe-verified boundary from stream_session_windows).
# ---------------------------------------------------------------------------

_STREAM_VISITS_ORACLE = f"""
WITH {_STG_CTES},
tx_events AS (
    SELECT charger_id, ingested_timestamp AS event_ts, action
    FROM stg_ocpp_logs
    WHERE message_type_id = '2'
      AND action IN ('StartTransaction','StopTransaction',
                     'RemoteStartTransaction','RemoteStopTransaction',
                     'MeterValues')
),
w AS (
    SELECT charger_id, event_ts, action,
           CASE WHEN lag(event_ts) OVER cw IS NULL
                  OR event_ts - lag(event_ts) OVER cw > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM tx_events
    WINDOW cw AS (PARTITION BY charger_id ORDER BY event_ts)
),
g AS (
    SELECT charger_id, event_ts, action,
           SUM(new_s) OVER (PARTITION BY charger_id ORDER BY event_ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM w
)
SELECT charger_id,
       MIN(event_ts) AS session_start_ts,
       MIN(event_ts) AS first_event_ts,
       MAX(event_ts) AS last_event_ts,
       COUNT(*) AS event_count,
       array_to_string(list_sort(list_distinct(list(action))), '|') AS actions
FROM g
GROUP BY charger_id, sid
HAVING MAX(event_ts) + INTERVAL 30 MINUTE <= (SELECT max(event_ts) FROM tx_events)
"""


@query(
    "ocpp_stream_visits",
    oracle=_STREAM_VISITS_ORACLE,
    cite="fact_visits.sql:57-244 visit grouping (streaming analogue via "
    "session_window); streaming/ocpp.py stream_visit_sessions. Oracle "
    "replays the gaps-and-islands sessionization AND the append-mode "
    "emission rule (session end <= final watermark, non-strict).",
)
def ocpp_stream_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming charge-activity sessions per charger (30-min gap) on
    the demo seed, availableNow → memory sink, watermark 0 s so every
    session except the per-charger tail (end beyond max event time)
    emits. Actions array is sorted-distinct joined for the cross-engine
    hash (sf_dir ignored — the seed is the canonical fixture)."""
    from kwwhat_spark.streaming import stream_visit_sessions

    def build(staged):
        return stream_visit_sessions(staged, watermark="0 seconds").select(
            "charger_id",
            "session_start_ts",
            "first_event_ts",
            "last_event_ts",
            "event_count",
            F.array_join("actions", "|").alias("actions"),
        )

    return _run_seed_stream(spark, build, "visits")


_STREAM_INTERVALS_ORACLE = f"""
WITH {_STG_CTES},
sm AS (
    SELECT l.charger_id,
           json_extract_string(l.payload, '$.connectorId') AS connector_id,
           json_extract_string(sv.sv, '$.measurand') AS measurand,
           json_extract_string(sv.sv, '$.value') AS value,
           json_extract_string(sv.sv, '$.unit') AS unit,
           json_extract_string(sv.sv, '$.phase') AS phase,
           coalesce(CAST(json_extract_string(mv.mv, '$.timestamp') AS TIMESTAMP),
                    l.ingested_timestamp) AS meter_ts
    FROM stg_ocpp_logs l,
         UNNEST(coalesce(CAST(json_extract(l.payload, '$.meterValue') AS JSON[]), [])) AS mv(mv),
         UNNEST(coalesce(CAST(json_extract(mv.mv, '$.sampledValue') AS JSON[]), [])) AS sv(sv)
    WHERE l.action = 'MeterValues' AND l.message_type_id = '2'
      AND mv.mv IS NOT NULL
),
sm_valid AS (
    SELECT * FROM sm WHERE value IS NOT NULL AND value <> ''
)
SELECT
    date_trunc('minute', meter_ts)
      - (CAST(EXTRACT(minute FROM meter_ts) AS INT) % 15) * INTERVAL 1 MINUTE
      AS interval_start_ts,
    date_trunc('minute', meter_ts)
      - (CAST(EXTRACT(minute FROM meter_ts) AS INT) % 15) * INTERVAL 1 MINUTE
      + INTERVAL 15 MINUTE AS interval_stop_ts,
    charger_id, connector_id, measurand, unit, phase,
    CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)) AS DOUBLE)
      / 100.0 / COUNT(*) AS avg_value,
    COUNT(*) AS measurement_count
FROM sm_valid
GROUP BY 1, 2, charger_id, connector_id, measurand, unit, phase
HAVING date_trunc('minute', min(meter_ts))
         - (CAST(EXTRACT(minute FROM min(meter_ts)) AS INT) % 15) * INTERVAL 1 MINUTE
         + INTERVAL 15 MINUTE
       <= (SELECT max(meter_ts) FROM sm_valid)
"""


@query(
    "ocpp_stream_intervals",
    oracle=_STREAM_INTERVALS_ORACLE,
    cite="fact_interval_data.sql:54-63 bucket starts; streaming/ocpp.py "
    "stream_interval_data (windowed agg + watermark). Oracle replays the "
    "measurement explosion AND the append-mode emission rule (window end "
    "<= final watermark, non-strict); avg is integer-hundredths exact on "
    "both engines.",
)
def ocpp_stream_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 15-min interval averages on the demo seed, availableNow
    → memory sink, watermark 0 s (exact_avg mode for the cross-engine
    hash; sf_dir ignored — the seed is the canonical fixture)."""
    from kwwhat_spark.streaming import stream_interval_data

    def build(staged):
        return stream_interval_data(staged, watermark="0 seconds", exact_avg=True)

    return _run_seed_stream(spark, build, "intervals")


# ---------------------------------------------------------------------------
# Stream-static join (the remaining Structured Streaming join shape:
# unbounded stream enriched against a batch dimension, stateless per
# row — Spark broadcasts/rescans the static side per micro-batch). The
# stream side is the staged OCPP log; the static side is the chargers
# dim; the windowed per-location message counts then hit the same
# append-mode emission boundary as the other streaming entries.
# ---------------------------------------------------------------------------
_STREAM_STATIC_ORACLE = f"""
WITH {_STG_CTES},
enriched AS (
    SELECT l.ingested_timestamp AS ts, l.action, ch.location_id
    FROM stg_ocpp_logs l
    JOIN stg_chargers ch ON ch.charger_id = l.charger_id
    WHERE l.message_type_id = '2' AND l.action IS NOT NULL
),
bucketed AS (
    SELECT location_id,
           date_trunc('hour', ts) AS hour_ts,
           COUNT(*) AS n_messages
    FROM enriched
    GROUP BY 1, 2
)
SELECT location_id, hour_ts, n_messages
FROM bucketed
WHERE hour_ts + INTERVAL 1 HOUR <= (SELECT max(ts) FROM enriched)
"""


@query(
    "ocpp_stream_static_join",
    oracle=_STREAM_STATIC_ORACLE,
    cite="SURVEY §2.9 streaming extension: stream-static dimension "
    "enrichment (stateless per-row join against the batch chargers dim) "
    "+ watermarked hourly rollup; append-mode emission boundary replayed "
    "in the oracle like the other streaming entries",
)
def ocpp_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged log stream ⋈ static chargers dim → per-(location, hour)
    message counts, availableNow → memory sink, watermark 0 s (sf_dir
    ignored — the seed is the canonical fixture)."""
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    chargers = (
        load_ocpp_sources(spark)["raw_chargers"]
        .select(
            F.col("charge_point_id").alias("charger_id"),
            "location_id",
        )
        .distinct()
    )

    def build(staged):
        calls = staged.filter(
            (F.col("message_type_id") == "2") & F.col("action").isNotNull()
        ).select(
            "charger_id", F.col("ingested_timestamp").alias("ts"), "action"
        )
        enriched = calls.join(chargers, "charger_id")  # stream-static
        return (
            enriched.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), "location_id")
            .agg(F.count(F.lit(1)).alias("n_messages"))
            .select(
                "location_id",
                F.col("w.start").alias("hour_ts"),
                "n_messages",
            )
        )

    return _run_seed_stream(spark, build, "staticjoin")


# ---------------------------------------------------------------------------
# fact_visits PARITY stream (VERDICT r7 item 2): the batch mart's exact
# two-step sessionization run as two chained availableNow streaming
# queries (attempts -> chains -> visits, the Kafka-topology shape), each
# stage an applyInPandasWithState with event-time timeouts
# (streaming/ocpp.py stream_visit_chains / stream_visit_parity). The
# oracle replays the batch fact_visits compile (fv_* CTE semantics) AND
# both stages' append-mode emission boundaries:
#   stage 1: a chain emits iff a later chain exists on its
#     (charger, port), or its last event + 2 min < the final watermark
#     (max event time over all attempts; timeout fires on wm > ts);
#   stage 2: a visit (computed over the FLUSHED attempts) emits iff a
#     later visit exists in its grouping_key, or its last event +
#     window < the stage-2 watermark (max event over flushed attempts).
# ---------------------------------------------------------------------------
_STREAM_VISITS_PARITY_ORACLE = f"""
WITH {_STG_CTES},
{_STATUS_CTES},
{_PREPARING_CTES},
{_TRANSACTIONS_CTES},
{_ATTEMPTS_CTES},
svp_window AS (
    SELECT TIMESTAMP '2025-10-01 00:00:00' AS from_ts,
           least(TIMESTAMP '2025-10-01 00:00:00' + INTERVAL 3 MONTH,
                 (SELECT max(incremental_ts) FROM fact_charge_attempts)) AS to_ts
),
svp_att AS MATERIALIZED (
    SELECT att.charge_attempt_id, att.charger_id, ch.location_id, c.port_id,
           att.connector_id, att.charge_attempt_start_ts,
           att.charge_attempt_stop_ts, att.energy_transferred_kwh,
           att.is_successful, att.id_tag,
           coalesce(att.charge_attempt_stop_ts, att.charge_attempt_start_ts) AS ev_ts
    FROM fact_charge_attempts att
    JOIN int_connectors c
        ON att.charger_id = c.charger_id AND att.connector_id = c.connector_id
    JOIN int_chargers ch ON att.charger_id = ch.charger_id
    WHERE att.incremental_ts > (SELECT from_ts FROM svp_window)
      AND att.incremental_ts <= (SELECT to_ts FROM svp_window)
      AND att.charge_attempt_start_ts IS NOT NULL
),
svp_wm1 AS (SELECT max(ev_ts) AS wm FROM svp_att),
svp_flags AS (
    SELECT *,
           (prev_attempt_stop_ts IS NULL
            OR date_diff('minute', prev_attempt_stop_ts, charge_attempt_start_ts) > 2
            OR (id_tag IS NOT NULL AND prev_id_tag IS NOT NULL
                AND id_tag <> prev_id_tag)) AS is_step1_group_start
    FROM (SELECT *,
                 lag(charge_attempt_stop_ts) OVER w AS prev_attempt_stop_ts,
                 lag(id_tag) OVER w AS prev_id_tag
          FROM svp_att
          WINDOW w AS (PARTITION BY charger_id, port_id
                       ORDER BY charge_attempt_start_ts))
),
svp_bounds AS (
    SELECT charger_id, port_id,
           charge_attempt_start_ts AS g_start,
           lead(charge_attempt_start_ts) OVER (
               PARTITION BY charger_id, port_id ORDER BY charge_attempt_start_ts
           ) AS g_end
    FROM svp_flags WHERE is_step1_group_start
),
svp_chains AS (
    SELECT att.*, b.g_start, b.g_end,
           max(att.id_tag) OVER (
               PARTITION BY att.charger_id, att.port_id, b.g_start
           ) AS inferred_tag,
           max(att.ev_ts) OVER (
               PARTITION BY att.charger_id, att.port_id, b.g_start
           ) AS chain_last_ev
    FROM svp_bounds b
    JOIN svp_att att
        ON att.charger_id = b.charger_id AND att.port_id = b.port_id
       AND att.charge_attempt_start_ts >= b.g_start
       AND (b.g_end IS NULL OR att.charge_attempt_start_ts < b.g_end)
),
svp_flushed AS MATERIALIZED (
    SELECT * FROM svp_chains
    WHERE g_end IS NOT NULL
       OR chain_last_ev + INTERVAL 2 MINUTE < (SELECT wm FROM svp_wm1)
),
svp_keys AS (
    SELECT *,
           CASE WHEN inferred_tag IS NOT NULL
                THEN location_id || '_' || inferred_tag
                ELSE location_id || '_' || charger_id || '_' || port_id
           END AS grouping_key,
           CASE WHEN inferred_tag IS NOT NULL THEN 30 ELSE 2 END AS w_min
    FROM svp_flushed
),
svp_wm2 AS (SELECT max(ev_ts) AS wm FROM svp_keys),
svp_vbounds AS (
    SELECT grouping_key, charge_attempt_start_ts AS visit_start_ts,
           lead(charge_attempt_start_ts) OVER (
               PARTITION BY grouping_key ORDER BY charge_attempt_start_ts
           ) AS next_visit_start_ts
    FROM (SELECT *,
                 lag(charge_attempt_stop_ts) OVER (
                     PARTITION BY grouping_key ORDER BY charge_attempt_start_ts
                 ) AS prev_stop
          FROM svp_keys)
    WHERE prev_stop IS NULL
       OR date_diff('minute', prev_stop, charge_attempt_start_ts) > w_min
),
svp_grouped AS (
    SELECT att.*, b.visit_start_ts, b.next_visit_start_ts,
           b.visit_start_ts = att.charge_attempt_start_ts AS is_first_attempt,
           row_number() OVER (
               PARTITION BY att.grouping_key, b.visit_start_ts
               ORDER BY att.charge_attempt_start_ts DESC
           ) = 1 AS is_last_attempt
    FROM svp_keys att
    JOIN svp_vbounds b
        ON att.grouping_key = b.grouping_key
       AND att.charge_attempt_start_ts >= b.visit_start_ts
       AND (b.next_visit_start_ts IS NULL
            OR att.charge_attempt_start_ts < b.next_visit_start_ts)
),
svp_rolled AS (
    SELECT grouping_key, w_min AS time_window_minutes, visit_start_ts,
           max(inferred_tag) AS id_tag,
           max(location_id) AS location_id,
           max(charge_attempt_stop_ts) AS visit_end_ts,
           count(*) AS charge_attempt_count,
           array_to_string(list_sort(list_distinct(list(charge_attempt_id))), '|')
             AS charge_attempt_ids,
           array_to_string(list_sort(list_distinct(list(charger_id))), '|')
             AS charger_ids,
           CAST(sum(coalesce(energy_transferred_kwh, 0)) AS DOUBLE)
             AS total_energy_transferred_kwh,
           max(CASE WHEN is_last_attempt THEN is_successful END) AS is_successful,
           min(CASE WHEN is_first_attempt THEN charge_attempt_id END)
             AS first_charge_attempt_id,
           max(CASE WHEN is_last_attempt THEN charge_attempt_id END)
             AS last_charge_attempt_id,
           min(CASE WHEN is_first_attempt THEN charger_id END) AS first_charger_id,
           max(CASE WHEN is_last_attempt THEN charger_id END) AS last_charger_id,
           min(CASE WHEN is_first_attempt THEN port_id END) AS first_port_id,
           max(CASE WHEN is_last_attempt THEN port_id END) AS last_port_id,
           max(next_visit_start_ts) AS next_visit_start_ts,
           max(ev_ts) AS visit_last_ev
    FROM svp_grouped
    GROUP BY grouping_key, w_min, visit_start_ts
),
svp_emitted AS (
    SELECT * FROM svp_rolled
    WHERE next_visit_start_ts IS NOT NULL
       OR visit_last_ev + time_window_minutes * INTERVAL 1 MINUTE
          < (SELECT wm FROM svp_wm2)
)
SELECT {_sk('v.location_id', 'v.first_charger_id', 'v.first_port_id', 'v.visit_start_ts')} AS visit_id,
       {_sk('v.location_id')} AS location_key,
       {_sk("coalesce(v.id_tag, 'UNKNOWN')")} AS driver_key,
       {_sk('v.first_charger_id', 'v.first_port_id')} AS first_port_key,
       {_sk('v.last_charger_id', 'v.last_port_id')} AS last_port_key,
       v.location_id, v.charger_ids, v.id_tag, v.visit_start_ts,
       v.visit_end_ts, v.charge_attempt_count, v.charge_attempt_ids,
       v.total_energy_transferred_kwh,
       v.first_charge_attempt_id, v.last_charge_attempt_id,
       v.first_charger_id, v.last_charger_id, v.first_port_id, v.last_port_id,
       v.is_successful, v.grouping_key,
       date_diff('minute', v.visit_start_ts, v.visit_end_ts) AS visit_duration_minutes
FROM svp_emitted v
"""


@query(
    "ocpp_stream_visits_parity",
    oracle=_STREAM_VISITS_PARITY_ORACLE,
    cite="fact_visits.sql:57-273 EXACT two-step sessionization as chained "
    "stateful streams (streaming/ocpp.py stream_visit_chains + "
    "stream_visit_parity, applyInPandasWithState + event-time timeouts); "
    "oracle replays both stages' append-mode emission boundaries",
)
def ocpp_stream_visits_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity streaming fact_visits on the demo seed: batch
    attempts written once as the stream input, then chains-stage and
    visits-stage run as availableNow streaming queries (parquet topic
    between them), memory sink, watermark 0 s. Emits the mart's full
    projection minus the batch-only incremental_ts (sf_dir ignored —
    the seed is the canonical fixture)."""
    import shutil
    import tempfile
    import uuid

    from kwwhat_spark.functions.core import surrogate_key
    from kwwhat_spark.streaming.ocpp import stream_visit_chains, stream_visit_parity

    attempts = _mart(spark, "fact_charge_attempts")
    pipe = _mart_pipeline(spark)
    conns = pipe.ref("dim_connectors").select(
        F.col("charger_id").alias("c_charger_id"),
        F.col("connector_id").alias("c_connector_id"),
        "port_id",
    )
    chargers = pipe.ref("dim_chargers").select(
        F.col("charger_id").alias("ch_charger_id"), "location_id"
    )
    from_ts = "2025-10-01 00:00:00"
    cap = attempts.agg(F.max("incremental_ts")).first()[0]
    to_ts = min(cap, __import__("datetime").datetime(2026, 1, 1))
    att = (
        attempts.filter(
            (F.col("incremental_ts") > F.lit(from_ts).cast("timestamp"))
            & (F.col("incremental_ts") <= F.lit(to_ts))
        )
        .join(
            F.broadcast(conns),
            (F.col("charger_id") == F.col("c_charger_id"))
            & (F.col("connector_id") == F.col("c_connector_id")),
        )
        .join(F.broadcast(chargers), F.col("charger_id") == F.col("ch_charger_id"))
        .filter(F.col("charge_attempt_start_ts").isNotNull())
        .select(
            "charge_attempt_id", "charger_id", "port_id", "connector_id",
            "location_id", "charge_attempt_start_ts", "charge_attempt_stop_ts",
            F.col("energy_transferred_kwh").cast("double").alias(
                "energy_transferred_kwh"
            ),
            "is_successful", "id_tag",
        )
    )

    root = tempfile.mkdtemp(prefix="kwh-visitparity-")
    name = f"stream_visitparity_{uuid.uuid4().hex[:8]}"
    try:
        att.write.mode("overwrite").parquet(f"{root}/attempts")
        in_schema = spark.read.parquet(f"{root}/attempts").schema

        chains_q = (
            stream_visit_chains(
                spark.readStream.schema(in_schema).parquet(f"{root}/attempts")
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/chained")
            .option("checkpointLocation", f"{root}/ckpt1")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not chains_q.awaitTermination(120):
            chains_q.stop()
            raise TimeoutError("visit-parity chain stage still running after 120s")

        chained_schema = spark.read.parquet(f"{root}/chained").schema
        visits_q = (
            stream_visit_parity(
                spark.readStream.schema(chained_schema).parquet(f"{root}/chained")
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not visits_q.awaitTermination(120):
            visits_q.stop()
            raise TimeoutError("visit-parity visit stage still running after 120s")

        v = spark.table(name)
        out = v.select(
            surrogate_key(
                "location_id", "first_charger_id", "first_port_id", "visit_start_ts"
            ).alias("visit_id"),
            surrogate_key("location_id").alias("location_key"),
            surrogate_key(F.coalesce(F.col("id_tag"), F.lit("UNKNOWN"))).alias(
                "driver_key"
            ),
            surrogate_key("first_charger_id", "first_port_id").alias("first_port_key"),
            surrogate_key("last_charger_id", "last_port_id").alias("last_port_key"),
            "location_id", "charger_ids", "id_tag", "visit_start_ts",
            "visit_end_ts", "charge_attempt_count", "charge_attempt_ids",
            "total_energy_transferred_kwh",
            "first_charge_attempt_id", "last_charge_attempt_id",
            "first_charger_id", "last_charger_id", "first_port_id", "last_port_id",
            "is_successful", "grouping_key", "visit_duration_minutes",
        ).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return keep(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The finalization pass (VERDICT r9 #6): the parity entry above
# faithfully WITHHOLDS watermark-open tails (3 of 135 visits on the
# seed) — correct append-mode semantics, but operators also need the
# "union of emitted + flushed equals the batch mart exactly" story. A
# far-future SENTINEL row per stage advances the event-time watermark
# past every real tail inside one availableNow run (the no-data batch
# then fires every event-time timeout), so all real chains/visits
# flush; the sentinel's own chain/visit stays open in state and never
# reaches the output. Oracle = the batch fact_visits compile itself.
_FV_STREAM_FINALIZED_ORACLE = f"SELECT * EXCLUDE (incremental_ts) FROM ({_FV_ORACLE})"


@query(
    "ocpp_stream_visits_finalized",
    oracle=_FV_STREAM_FINALIZED_ORACLE,
    cite="fact_visits.sql:57-273 two-step sessionization as chained stateful "
    "streams PLUS watermark finalization (sentinel flush rows): "
    "emitted+flushed visits byte-match the batch mart (minus the "
    "batch-only incremental_ts)",
)
def ocpp_stream_visits_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import shutil
    import tempfile
    import uuid

    from kwwhat_spark.functions.core import surrogate_key
    from kwwhat_spark.streaming.ocpp import stream_visit_chains, stream_visit_parity

    attempts = _mart(spark, "fact_charge_attempts")
    pipe = _mart_pipeline(spark)
    conns = pipe.ref("dim_connectors").select(
        F.col("charger_id").alias("c_charger_id"),
        F.col("connector_id").alias("c_connector_id"),
        "port_id",
    )
    chargers = pipe.ref("dim_chargers").select(
        F.col("charger_id").alias("ch_charger_id"), "location_id"
    )
    from_ts = "2025-10-01 00:00:00"
    cap = attempts.agg(F.max("incremental_ts")).first()[0]
    to_ts = min(cap, datetime.datetime(2026, 1, 1))
    att = (
        attempts.filter(
            (F.col("incremental_ts") > F.lit(from_ts).cast("timestamp"))
            & (F.col("incremental_ts") <= F.lit(to_ts))
        )
        .join(
            F.broadcast(conns),
            (F.col("charger_id") == F.col("c_charger_id"))
            & (F.col("connector_id") == F.col("c_connector_id")),
        )
        .join(F.broadcast(chargers), F.col("charger_id") == F.col("ch_charger_id"))
        .filter(F.col("charge_attempt_start_ts").isNotNull())
        .select(
            "charge_attempt_id", "charger_id", "port_id", "connector_id",
            "location_id", "charge_attempt_start_ts", "charge_attempt_stop_ts",
            F.col("energy_transferred_kwh").cast("double").alias(
                "energy_transferred_kwh"
            ),
            "is_successful", "id_tag",
        )
    )
    flush_ts = to_ts + datetime.timedelta(days=2)

    root = tempfile.mkdtemp(prefix="kwh-visitfinal-")
    name = f"stream_visitfinal_{uuid.uuid4().hex[:8]}"
    try:
        att.write.mode("overwrite").parquet(f"{root}/attempts")
        in_schema = spark.read.parquet(f"{root}/attempts").schema
        sentinel = spark.createDataFrame(
            [("__FLUSH__", "__FLUSH__", "__FLUSH__", "0", "__FLUSH__",
              flush_ts, flush_ts, 0.0, False, None)],
            in_schema,
        )
        sentinel.write.mode("append").parquet(f"{root}/attempts")

        chains_q = (
            stream_visit_chains(
                spark.readStream.schema(in_schema).parquet(f"{root}/attempts")
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/chained")
            .option("checkpointLocation", f"{root}/ckpt1")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not chains_q.awaitTermination(120):
            chains_q.stop()
            raise TimeoutError("visit-final chain stage still running after 120s")

        # The chain stage never emits the sentinel's own (open) chain, so
        # stage 2 needs its own watermark-advancer. It cannot be dropped
        # into the sink directory: a file STREAM source reads the sink's
        # _spark_metadata log when one is present (exactly-once
        # sink-to-source chaining) and would never see a foreign file —
        # found live, two tail visits stayed open. Re-stage the topic
        # into a plain directory and append the sentinel there.
        chained = spark.read.parquet(f"{root}/chained")
        chained_schema = chained.schema
        chained.write.mode("overwrite").parquet(f"{root}/chained_in")
        spark.createDataFrame(
            [("__FLUSH__", "__FLUSH__", "__FLUSH__", "0", "__FLUSH__",
              flush_ts, flush_ts, 0.0, False, None)],
            chained_schema,
        ).write.mode("append").parquet(f"{root}/chained_in")

        visits_q = (
            stream_visit_parity(
                spark.readStream.schema(chained_schema).parquet(f"{root}/chained_in")
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not visits_q.awaitTermination(120):
            visits_q.stop()
            raise TimeoutError("visit-final visit stage still running after 120s")

        v = spark.table(name).filter(F.col("location_id") != "__FLUSH__")
        out = v.select(
            surrogate_key(
                "location_id", "first_charger_id", "first_port_id", "visit_start_ts"
            ).alias("visit_id"),
            surrogate_key("location_id").alias("location_key"),
            surrogate_key(F.coalesce(F.col("id_tag"), F.lit("UNKNOWN"))).alias(
                "driver_key"
            ),
            surrogate_key("first_charger_id", "first_port_id").alias("first_port_key"),
            surrogate_key("last_charger_id", "last_port_id").alias("last_port_key"),
            "location_id", "charger_ids", "id_tag", "visit_start_ts",
            "visit_end_ts", "charge_attempt_count", "charge_attempt_ids",
            "total_energy_transferred_kwh",
            "first_charge_attempt_id", "last_charge_attempt_id",
            "first_charger_id", "last_charger_id", "first_port_id", "last_port_id",
            "is_successful", "grouping_key", "visit_duration_minutes",
        ).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return keep(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)
