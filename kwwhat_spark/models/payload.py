"""The OCPP message front end shared by the log-derived models: how a
message's payload becomes columns, and how a CALL meets its CALLRESULT.

Extraction map (SURVEY.md:140; macros/payload_extractions.sql:1-132):
each field is read only for the actions that carry it (`gate`), e.g.
connectorId for StatusNotification / StartTransaction / MeterValues /
RemoteStartTransaction (`connector_id`), and transactionId from the
request for Stop / RemoteStop / MeterValues but from the CALLRESULT for
StartTransaction (`transaction_id`, payload_extractions.sql:67-75).

Correlation (SURVEY.md:152; int_status_changes.sql:80-84,
int_transactions.sql:87-91, int_connector_preparing.sql:100-106): a
CALL pairs with every CALLRESULT of its unique_id ingested within
[0, window] seconds of it — a left join, one output row per pair.
`correlate` is the one implementation; its docstring carries the rules
that keep it cheap.

Spark shape of the parse: one `from_json` into a named struct column,
fields read as struct accesses. The reference's per-field json_extract
re-parses the payload once PER FIELD: the 500× sweep (BASELINE.md round
9) showed the top two models JSON-extraction-bound (int_transactions
63 s, int_connector_preparing 56 s). Traps, all measured (r10, 4M rows
× 9 fields, unless noted):

- per-field `get_json_object` — one full Jackson parse per field
  (≥4.4 s);
- `from_json(...).getField(...)` INLINE in the same projection — the
  OptimizeJsonExprs rule prunes the schema per getField, splitting the
  single parse into N single-field parses (~5 s, no better);
- `withColumn` / a dedicated select binding the struct ONCE, fields read
  from the bound column — one parse (~1.3 s, 3-4× faster).

So: always bind the parsed struct to a column (`extract` does) and read
fields from it; never call parsed_payload() inline per field.

Trap 4 (r11, measured at the 500× fleet): never parse AFTER a fanout
join. The correlation join multiplies rows under the repeated-uuid
pathology (370k preparing events → ~125M joined rows; 136k transaction
events → ~68M), and a parse placed after it runs once per fanout COPY
of the payload, not once per payload. Extract the needed scalars on each
side BEFORE the join: int_connector_preparing's events_conf stage
85.7 → 5.7 s (15×), int_transactions' CALLRESULT parse 25.0 → 5.1 s
(5×). Carrying the whole struct or the JSON text through the join
instead costs the same way (r10: +25 s at the 500× fleet).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kwwhat_spark.operators.temporal import uid_window_join

# Union of every scalar field the log-derived models read
# (payload_extractions.sql:131). All strings: the reference extracts text
# and casts downstream; numeric JSON values round-trip verbatim through
# Jackson's raw-token-to-string path (verified identical to
# get_json_object for numbers, nested objects, nulls, and malformed
# payloads). MeterValues' nested meterValue array is NOT here — only
# models/meter_values.py pays for materializing it, via its own schema.
OCPP_PAYLOAD_SCHEMA = StructType(
    [
        StructField("connectorId", StringType()),
        StructField("transactionId", StringType()),
        StructField("idTag", StringType()),
        StructField("timestamp", StringType()),
        StructField("reason", StringType()),
        StructField("meterStart", StringType()),
        StructField("meterStop", StringType()),
        StructField("status", StringType()),
        StructField("errorCode", StringType()),
        StructField(
            "idTagInfo",
            StructType(
                [
                    StructField("status", StringType()),
                    StructField("idTag", StringType()),
                ]
            ),
        ),
    ]
)

CONNECTOR_ACTIONS = ["StatusNotification", "StartTransaction", "MeterValues",
                     "RemoteStartTransaction"]


def parsed_payload(src: str = "payload") -> Column:
    """The typed payload struct. Bind it with withColumn/select ONCE and
    read fields from the bound column (see module docstring)."""
    return F.from_json(src, OCPP_PAYLOAD_SCHEMA)


def payload_field(name: str, src: str = "payload") -> Column:
    """ONE field via an explicitly schema-pruned parse — for columns that
    become JOIN KEYS or live NEXT TO the whole bound struct in the same
    projection. Two measured traps this avoids (r10, 500× fleet):

    - join-key pushdown: isnotnull(<key>) inlines the key's expression
      into a per-row Filter; if the key reads from the bound struct the
      filter re-runs the FULL schema parse (the optimizer's own pruning
      rewrites the filter copy, but the projection copy next to a kept
      whole struct is NOT pruned);
    - projection pushdown through a join duplicates the struct alias
      into derived columns, leaving two full parses in one project
      (JsonToStructs is CodegenFallback, so codegen CSE does not merge
      them).

    A single-field schema costs what one get_json_object costs — cheap
    enough to run inside filters."""
    field = OCPP_PAYLOAD_SCHEMA[name]
    return F.from_json(src, StructType([field])).getField(name)


def gate(actions: Sequence[str] | str, col: Column | str) -> Column:
    """`col` on rows whose action is one of `actions`, else null."""
    actions = [actions] if isinstance(actions, str) else list(actions)
    return F.when(F.col("action").isin(actions), F.col(col) if isinstance(col, str) else col)


def connector_id() -> Column:
    """The request's connectorId for the actions that carry it. A pruned
    parse (`payload_field`), not a bound-struct read: it is a join key
    downstream and sits beside the bound struct in `extract`."""
    return gate(CONNECTOR_ACTIONS, payload_field("connectorId"))


def transaction_id(request_col: str, confirmation_col: str) -> Column:
    """transactionId: the request's for Stop / RemoteStop / MeterValues,
    the CALLRESULT's for StartTransaction (payload_extractions.sql:67-75)."""
    return F.coalesce(
        gate(["StopTransaction", "RemoteStopTransaction", "MeterValues"], request_col),
        gate("StartTransaction", confirmation_col),
    )


def extract(df: DataFrame, keep: Sequence[str], fields: dict[str, str],
            *extra: Column) -> DataFrame:
    """`df`'s `keep` columns, one column per `fields` item (output name →
    dotted payload path) read from ONE parse of `payload`, then the
    `extra` columns."""
    return df.withColumn("__pj", parsed_payload()).select(
        *keep, *[F.col(f"__pj.{path}").alias(name) for name, path in fields.items()],
        *extra,
    )


def correlate(events: DataFrame, logs: DataFrame, window_s: int, callresult: str, *,
              consumers: Sequence[str] | None = None, fields: dict[str, str] | None = None,
              ts: str = "ingested_ts") -> DataFrame:
    """`events` left-joined to the CALLRESULTs in `logs` (message type
    `callresult`) with the same unique_id, ingested within [0, window_s]
    seconds after the event (`ts` names the ingest column on both sides).
    Adds conf_unique_id, conf_ingested_ts and one column per `fields`
    item (output name → CALLRESULT payload path). Only `consumers`
    (default: every action) meet the confirmations; the other events
    pass through once, with those columns null.

    Three rules keep the join from multiplying work, all measured on
    the seed's dense same-id retry bursts (~170 in-window confirmations
    per call at the 2000× fleet):

    - the CALLRESULT fields are parsed BEFORE the join (trap 4), and
      only they cross it, never the struct or the JSON text;
    - exact-duplicate confirmations collapse before the join: a
      CALLRESULT contributes only these columns, so verbatim copies
      (at-least-once redelivery, chargers sharing one correlation id
      at one timestamp) add pairs but no information. The reference
      fans them out, and every model drops those copies again
      (int_status_changes' change filter, the min/max/collect_set
      rollups of the other two), so no output changes. Retries at
      distinct timestamps are kept: each still pairs, as in the
      reference. Map-side combinable; pair count drops n² → n on the
      shared-id bomb regime (int_connector_preparing, 100 replicas
      sharing every uid: 9.73M → 97.3k pairs, 16.1 → 10.5 s isolated);
    - actions that read no confirmation value skip the join, for the
      same reason: joining them cost 1.09B pairs in int_transactions
      and 2.00B in int_connector_preparing at the 2000× fleet.

    The join itself is `uid_window_join`: the window is folded into the
    join key, so one repeated uuid cannot land on one straggler task."""
    conf = extract(
        logs.filter(F.col("message_type_id") == callresult).select(
            F.col("unique_id").alias("conf_unique_id"),
            F.col(ts).alias("conf_ingested_ts"),
            "payload",
        ),
        ["conf_unique_id", "conf_ingested_ts"], fields or {},
    ).dropDuplicates()
    consuming = None if consumers is None else F.col("action").isin(list(consumers))
    joined = uid_window_join(events if consuming is None else events.filter(consuming), conf,
                             "unique_id", "conf_unique_id", ts, "conf_ingested_ts", window_s)
    if consuming is None:
        return joined
    nulls = [F.lit(None).cast(f.dataType).alias(f.name) for f in conf.schema]
    return joined.unionByName(events.filter(~consuming).select("*", *nulls))
