"""Staging models: rename/cast + OCPP envelope split.

Reference: models/staging/raw/stg_ocpp_logs.sql:14-36 (envelope split),
stg_chargers.sql / stg_ports.sql (distinct), stg_connectors.sql.
All are views in the reference → plain (lazy) DataFrames here; Catalyst
collapses them into downstream plans, so the JSON split is computed once
per scan with column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline, model

# Envelope split, regex fast path (r12; the word_shingles lesson — a
# codegen regex pass beats a generic parse): the three scalar slots of
# a well-formed single-line OCPP envelope come out of anchored
# regexp_extracts, and only rows the fast path can't prove well-formed
# fall back to a JSON parse (per-row CASE branches, so the parse runs
# ONLY on those rows). Measured at the 2000× fleet: 12.8-14.3 s
# (one from_json per row) → ~10 s for the full stg materialization.
#
# Byte-parity note: the fast path emits the payload SUBSTRING verbatim
# (original spacing), while the old from_json path re-serialized it
# compactly via Jackson. Nothing observable depends on the text shape:
# every downstream consumer re-parses it (models/payload.py from_json,
# DuckDB json_extract_string in the oracles — both whitespace-
# insensitive), no gate/mart/unit fixture outputs raw payload text, and
# the only payload-text output column (int_status_changes.payload) is
# compared full-refresh-vs-incremental, both of which run this same
# split. Verified by the full 156-entry gate + dbt units + the DAG
# property harness after the switch.
_MT_RX = r'^\s*\[\s*(\d+)'
# One quoted JSON string, escapes included, as an UNROLLED loop
# ([^"\]* then (\\. [^"\]*)*): matches the same language as the naive
# per-char alternation (?:[^"\\]|\\.)* but without its backtracking —
# measured 20.4 s vs 7.7 s for the full split at the 2000× fleet.
_STR = r'"[^"\\]*(?:\\.[^"\\]*)*"'
_UID_RX = r'^\s*\[\s*\d+\s*,\s*"([^"\\]*(?:\\.[^"\\]*)*)"'
_CALL_PAYLOAD_RX = rf'^\s*\[\s*\d+\s*,\s*{_STR}\s*,\s*{_STR}\s*,\s*(.*)\]\s*$'
_RESULT_PAYLOAD_RX = rf'^\s*\[\s*\d+\s*,\s*{_STR}\s*,\s*(.*)\]\s*$'


def split_envelope(
    src: DataFrame, vars, *, extract_callerror: bool = False
) -> DataFrame:
    """The stg_ocpp_logs envelope split — shared verbatim by batch
    stg_ocpp_logs and streaming stage_stream so the twins cannot drift.
    Reference: stg_ocpp_logs.sql:14-36.

    Each regex capture is hoisted into its own named column and
    referenced by attribute: leaving the captures inline inside the
    CASE branches re-evaluated each regexp 2-3× per row (CASE-branch
    subexpressions are excluded from codegen CSE — measured 31.6 s vs
    ~10 s at the 2000× fleet), and CollapseProject will not inline a
    non-cheap alias referenced more than once. The JSON-parse fallbacks
    stay INSIDE the branches, so they run only on rows the fast path
    can't prove well-formed."""
    caps = src.withColumn(
        "__mt_raw", F.regexp_extract("msg", _MT_RX, 1)
    ).withColumns(
        {
            "__uid_raw": F.regexp_extract("msg", _UID_RX, 1),
            # Each payload regex runs only on its own message type —
            # a CALL row never pays the CALLRESULT pattern and vice
            # versa (the two patterns scan the whole msg text, so this
            # halves the heaviest per-row work).
            "__pay_call": F.when(
                F.col("__mt_raw") == vars.call_message_type_id,
                F.regexp_extract("msg", _CALL_PAYLOAD_RX, 1),
            ),
            "__pay_res": F.when(
                F.col("__mt_raw") == vars.callresult_message_type_id,
                F.regexp_extract("msg", _RESULT_PAYLOAD_RX, 1),
            ),
        }
    )
    mt_raw = F.col("__mt_raw")
    uid_raw = F.col("__uid_raw")
    pay_call = F.col("__pay_call")
    pay_res = F.col("__pay_res")
    # '' = no match (malformed / multi-line msg) → full JSON parse.
    mt = F.when(mt_raw != "", mt_raw).otherwise(F.get_json_object("msg", "$[0]"))
    # The raw capture is the ESCAPED form; any escape (backslash) or a
    # miss (non-string uid, malformed) routes through the JSON parse
    # for the unescaped value. '' from a legit empty-string uid also
    # falls back and comes out '' again — consistent either way.
    uid = F.when(
        (uid_raw == "") | uid_raw.contains("\\"),
        F.get_json_object("msg", "$[1]"),
    ).otherwise(uid_raw)
    # CALL carries payload at [3], CALLRESULT at [2]; CALLERROR → null
    # (stg_ocpp_logs.sql:30-36). Fast path only for object payloads
    # (every real OCPP payload; '{' first): string/number elements and
    # misses take get_json_object, which matches the old from_json
    # element semantics (strings unquoted, objects re-serialized).
    payload = (
        F.when(
            mt_raw == vars.call_message_type_id,
            F.when(pay_call.startswith("{"), pay_call).otherwise(
                F.get_json_object("msg", "$[3]")
            ),
        )
        .when(
            mt_raw == vars.callresult_message_type_id,
            F.when(pay_res.startswith("{"), pay_res).otherwise(
                F.get_json_object("msg", "$[2]")
            ),
        )
        # Fallback-mt rows (mt_raw ''): route by the parsed type so a
        # malformed-but-parseable envelope still yields its payload.
        .when(
            (mt_raw == "") & (mt == vars.call_message_type_id),
            F.get_json_object("msg", "$[3]"),
        )
        .when(
            (mt_raw == "") & (mt == vars.callresult_message_type_id),
            F.get_json_object("msg", "$[2]"),
        )
    )
    cols = [
        F.col("timestamp").cast("timestamp").alias("ingested_timestamp"),
        F.col("id").cast("string").alias("charger_id"),
        F.col("action").cast("string").alias("action"),
        mt.cast("string").alias("message_type_id"),
        uid.cast("string").alias("unique_id"),
        payload.alias("payload"),
    ]
    if extract_callerror:
        # CALLERROR envelope [4, uid, errorCode, errorDescription,
        # {errorDetails}] (seeds/prompt.txt:13) — opt-in beyond-reference
        # surface; a real fleet emits these and losing errorCode makes
        # fault triage blind. Rare rows → the conditional from_json runs
        # only where the type slot matches.
        is_err = mt_raw == vars.callerror_message_type_id
        err_env = F.from_json("msg", "array<string>")
        cols += [
            F.when(is_err, F.get(err_env, 2)).cast("string").alias("error_code"),
            F.when(is_err, F.get(err_env, 3)).cast("string").alias("error_description"),
            F.when(is_err, F.get(err_env, 4)).cast("string").alias("error_details"),
        ]
    return caps.select(*cols)


@model("stg_ocpp_logs", view=True)
def stg_ocpp_logs(p: Pipeline) -> DataFrame:
    return split_envelope(
        p.source("raw_ocpp_logs"),
        p.vars,
        extract_callerror=p.vars.extract_callerror,
    )


@model("stg_chargers", view=True)
def stg_chargers(p: Pipeline) -> DataFrame:
    return (
        p.source("raw_chargers")
        .select(
            F.col("charge_point_id").cast("string").alias("charger_id"),
            F.col("location_id").cast("string").alias("location_id"),
            F.col("commissioned_ts").cast("timestamp").alias("commissioned_ts"),
            F.col("decommissioned_ts").cast("timestamp").alias("decommissioned_ts"),
        )
        .distinct()
    )


@model("stg_ports", view=True)
def stg_ports(p: Pipeline) -> DataFrame:
    return (
        p.source("raw_ports")
        .select(
            F.col("charge_point_id").cast("string").alias("charger_id"),
            F.col("port_id").cast("string").alias("port_id"),
        )
        .distinct()
    )


@model("stg_connectors", view=True)
def stg_connectors(p: Pipeline) -> DataFrame:
    return p.source("raw_connectors").select(
        F.col("charge_point_id").cast("string").alias("charger_id"),
        F.col("port_id").cast("string").alias("port_id"),
        F.col("connector_id").cast("string").alias("connector_id"),
        F.col("connector_type").cast("string").alias("connector_type"),
    )
