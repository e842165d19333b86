"""Exact-semantics scalar helpers.

These replicate warehouse behaviors the reference relies on, where Spark's
nearest built-in differs subtly. Each is a thin Column expression (stays
inside whole-stage codegen — no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# dbt_utils.generate_surrogate_key null placeholder.
_SK_NULL = "_dbt_utils_surrogate_key_null_"


def surrogate_key(*cols: Column | str) -> Column:
    """md5 of '-'-joined coalesce(cast(col as string), sentinel).

    Replicates dbt_utils.generate_surrogate_key exactly (reference
    fact_charge_attempts.sql:232-241, fact_visits.sql:433-439) so surrogate
    keys are comparable across engines.
    """
    parts = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"),
                   F.lit(_SK_NULL))
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def bucket_15min(ts: Column | str) -> Column:
    """Floor a timestamp to its 15-minute bucket start.

    Same bucket starts as the reference's
    ``dateadd(minute, -(minute(ts) % 15), date_trunc('minute', ts))``
    (int_meter_values.sql:156-160). Spark's ``window(ts, '15 minutes').start``
    is identical, but a direct truncation keeps this a scalar expression
    (usable in joins/group keys without the struct unwrap).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_seconds(
        (F.unix_timestamp(c) - F.unix_timestamp(c) % 900)
    )


def datediff_boundary(unit: str, start: Column | str, end: Column | str) -> Column:
    """Warehouse-style datediff: count *boundary crossings*, not elapsed time.

    DuckDB/Snowflake ``datediff('minute', a, b)`` counts minute boundaries
    crossed (10:00:59 → 10:02:01 = 2), while Spark's ``timestampdiff``
    truncates elapsed time (= 1). The reference's visit gaps and durations
    (fact_visits.sql:91,188; int_offline_outages.sql:178) use the boundary
    semantics; this helper is the single audited implementation.

    Supported units: second, minute, hour, day.
    """
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    unit = unit.lower()
    if unit == "day":
        return F.datediff(F.to_date(e), F.to_date(s)).cast("long")
    divisor = {"second": 1, "minute": 60, "hour": 3600}[unit]
    trunc_unit = unit
    return (
        (F.unix_timestamp(F.date_trunc(trunc_unit, e))
         - F.unix_timestamp(F.date_trunc(trunc_unit, s))) / divisor
    ).cast("long")


def array_union_sorted(a: Column, b: Column) -> Column:
    """Sorted, distinct union of two arrays with the reference's
    null-aware concat (macros/array_concat.sql:1-17): both null → null,
    one null → the other (sorted and distinct)."""
    return F.array_sort(F.array_distinct(
        F.when(a.isNull(), b).when(b.isNull(), a).otherwise(F.concat(a, b))))
