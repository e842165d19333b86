"""Pipeline.window: every OCPP model's batch window (from_ts,
buffer_from, to_ts), driven from a table of cases over small
DataFrames, plus the rule that an incremental batch never evaluates its
from-caps.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.config import VARS
from kwwhat_spark.models import Pipeline

D = dt.datetime


def _ts(spark, *values):
    """A one-column (ts timestamp) DataFrame holding ``values``."""
    return spark.createDataFrame([(v,) for v in values], "ts timestamp")


def _state(spark, *values):
    """Prior model state: an incremental_ts column holding ``values``."""
    return spark.createDataFrame([(v,) for v in values], "incremental_ts timestamp")


# id, start_processing_date, prior incremental_ts values (None: full
# refresh), from-cap columns, to-cap columns, buffer_minutes,
# expected (from_ts, buffer_from, to_ts).
CASES = [
    ("month_end_clamp", "2025-01-31", None, [], [], 0,
     (D(2025, 1, 31), D(2025, 1, 31), D(2025, 4, 30))),
    ("year_rollover_leap_february", "2023-11-30", None, [], [], 0,
     (D(2023, 11, 30), D(2023, 11, 30), D(2024, 2, 29))),
    ("non_leap_february", "2024-11-30", None, [], [], 0,
     (D(2024, 11, 30), D(2024, 11, 30), D(2025, 2, 28))),
    ("incremental_from_is_prior_max", "2025-01-01",
     [D(2025, 2, 10, 8), D(2025, 3, 5, 12, 30), None], [], [], 0,
     (D(2025, 3, 5, 12, 30), D(2025, 3, 5, 12, 30), D(2025, 6, 5, 12, 30))),
    ("incremental_empty_state_falls_back_to_start", "2025-01-01", [], [], [], 0,
     (D(2025, 1, 1), D(2025, 1, 1), D(2025, 4, 1))),
    ("incremental_null_state_falls_back_to_start", "2025-01-01", [None], [], [], 0,
     (D(2025, 1, 1), D(2025, 1, 1), D(2025, 4, 1))),
    # from = greatest(start, min of each from-cap); to = least(from + 3
    # months, max of each to-cap).
    ("from_cap_min_and_to_cap_max", "2025-01-01", None,
     [[D(2025, 2, 1), D(2025, 1, 15, 6)], [D(2024, 12, 1)]],
     [[D(2025, 3, 1), D(2025, 3, 20)], [D(2025, 12, 31)]], 0,
     (D(2025, 1, 15, 6), D(2025, 1, 15, 6), D(2025, 3, 20))),
    ("to_cap_beyond_window_keeps_window_end", "2025-01-01", None, [],
     [[D(2025, 1, 2), D(2025, 9, 1)]], 0,
     (D(2025, 1, 1), D(2025, 1, 1), D(2025, 4, 1))),
    ("incremental_to_cap", "2025-01-01", [D(2025, 3, 1)], [],
     [[D(2025, 3, 2, 7)]], 0,
     (D(2025, 3, 1), D(2025, 3, 1), D(2025, 3, 2, 7))),
    ("null_and_empty_caps_ignored", "2025-01-01", None,
     [[None], []], [[None, None], []], 0,
     (D(2025, 1, 1), D(2025, 1, 1), D(2025, 4, 1))),
    ("buffer_from", "2025-01-01", None, [], [], 30,
     (D(2025, 1, 1), D(2024, 12, 31, 23, 30), D(2025, 4, 1))),
    ("downtime_buffer_day", "2025-03-01", [D(2025, 3, 1, 0, 10)], [], [], 1440,
     (D(2025, 3, 1, 0, 10), D(2025, 2, 28, 0, 10), D(2025, 6, 1, 0, 10))),
]


@pytest.mark.parametrize(
    "start, prior, from_caps, to_caps, buffer_minutes, expected",
    [pytest.param(*case[1:], id=case[0]) for case in CASES],
)
def test_window(spark, start, prior, from_caps, to_caps, buffer_minutes, expected):
    this_dfs = {} if prior is None else {"m": _state(spark, *prior)}
    p = Pipeline(
        spark=spark,
        sources={},
        vars=dataclasses.replace(VARS, start_processing_date=start),
        this_dfs=this_dfs,
    )
    got = p.window(
        "m",
        buffer_minutes=buffer_minutes,
        from_caps=[(_ts(spark, *vals), "ts") for vals in from_caps],
        to_caps=[(_ts(spark, *vals), "ts") for vals in to_caps],
    )
    assert got == expected


def test_incremental_batch_never_evaluates_from_caps(spark):
    """From-caps bound only a full refresh: an incremental batch must
    not run their Spark job. The cap raises if evaluated; the full
    refresh is the positive control that it does raise."""
    bomb = spark.range(1).select(
        F.raise_error(F.lit("from-cap evaluated")).cast("timestamp").alias("ts"))
    incremental = Pipeline(
        spark=spark, sources={}, this_dfs={"m": _state(spark, D(2025, 11, 1))})
    from_ts, _, to_ts = incremental.window("m", from_caps=[(bomb, "ts")])
    assert (from_ts, to_ts) == (D(2025, 11, 1), D(2026, 2, 1))

    with pytest.raises(Exception, match="from-cap evaluated"):
        Pipeline(spark=spark, sources={}).window("m", from_caps=[(bomb, "ts")])
