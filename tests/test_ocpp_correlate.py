"""The OCPP CALL↔CALLRESULT correlation (models/payload.correlate) on
hand-built rows, every expected row written out by hand.

One batch of StartTransaction / MeterValues CALLs and their CALLRESULTs
(15 s response window, StartTransaction the only consuming action)
covers: in-window retries at distinct timestamps, an exact-duplicate
CALLRESULT, both window edges, a non-consuming action, and one
unique_id reused by two chargers.
"""

from __future__ import annotations

import datetime as dt

from kwwhat_spark.models.payload import correlate

_T0 = dt.datetime(2025, 10, 2, 10, 0, 0)


def _t(s: float, us: int = 0) -> dt.datetime:
    return _T0 + dt.timedelta(seconds=s, microseconds=us)


# (charger_id, action, unique_id, ingested_ts)
_EVENTS = [
    ("CH-1", "StartTransaction", "u-retry", _t(0)),
    ("CH-1", "StartTransaction", "u-dup", _t(60)),
    ("CH-1", "StartTransaction", "u-edge", _t(120)),
    ("CH-1", "StartTransaction", "u-bound", _t(180)),
    ("CH-1", "MeterValues", "u-meter", _t(240)),
    ("CH-1", "StartTransaction", "u-shared", _t(300)),
    ("CH-2", "StartTransaction", "u-shared", _t(303)),
]

# (charger_id, message_type_id, unique_id, ingested_ts, payload)
_CONFIRMATIONS = [
    # Two retries at distinct timestamps: both pair.
    ("CH-1", "3", "u-retry", _t(1), '{"transactionId": 7}'),
    ("CH-1", "3", "u-retry", _t(5), '{"transactionId": 7}'),
    # An exact duplicate: one pair.
    ("CH-1", "3", "u-dup", _t(62), '{"transactionId": 8}'),
    ("CH-1", "3", "u-dup", _t(62), '{"transactionId": 8}'),
    # 1 µs past the window, and 1 µs before the CALL: neither pairs.
    ("CH-1", "3", "u-edge", _t(135, 1), '{"transactionId": 1}'),
    ("CH-1", "3", "u-edge", _t(119, 999_999), '{"transactionId": 2}'),
    # Both window ends are inclusive.
    ("CH-1", "3", "u-bound", _t(180), '{"transactionId": 3}'),
    ("CH-1", "3", "u-bound", _t(195), '{"transactionId": 4}'),
    # A MeterValues confirmation in window: MeterValues does not consume it.
    ("CH-1", "3", "u-meter", _t(241), "{}"),
    # One unique_id reused by two chargers: pairing is by unique_id and
    # time alone (SURVEY.md:152), so CH-1's CALL also meets CH-2's
    # CALLRESULT, and CH-2's CALL (at +303 s) only the later one.
    ("CH-1", "3", "u-shared", _t(301), '{"transactionId": 9}'),
    ("CH-2", "3", "u-shared", _t(304), '{"transactionId": 10}'),
    # A CALL row is not a confirmation.
    ("CH-1", "2", "u-retry", _t(2), '{"transactionId": 99}'),
]

_PAIRED = [
    ("CH-1", "StartTransaction", "u-retry", _t(0), "u-retry", _t(1), "7"),
    ("CH-1", "StartTransaction", "u-retry", _t(0), "u-retry", _t(5), "7"),
    ("CH-1", "StartTransaction", "u-dup", _t(60), "u-dup", _t(62), "8"),
    ("CH-1", "StartTransaction", "u-edge", _t(120), None, None, None),
    ("CH-1", "StartTransaction", "u-bound", _t(180), "u-bound", _t(180), "3"),
    ("CH-1", "StartTransaction", "u-bound", _t(180), "u-bound", _t(195), "4"),
    ("CH-1", "StartTransaction", "u-shared", _t(300), "u-shared", _t(301), "9"),
    ("CH-1", "StartTransaction", "u-shared", _t(300), "u-shared", _t(304), "10"),
    ("CH-2", "StartTransaction", "u-shared", _t(303), "u-shared", _t(304), "10"),
]


def _frames(spark):
    events = spark.createDataFrame(
        _EVENTS, "charger_id string, action string, unique_id string, ingested_ts timestamp")
    logs = spark.createDataFrame(
        _CONFIRMATIONS,
        "charger_id string, message_type_id string, unique_id string, "
        "ingested_ts timestamp, payload string")
    return events, logs


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_correlate_pairs_only_consuming_actions(spark):
    events, logs = _frames(spark)
    got = correlate(events, logs, 15, "3", consumers=["StartTransaction"],
                    fields={"c_txn_id": "transactionId"})
    assert got.columns == ["charger_id", "action", "unique_id", "ingested_ts",
                           "conf_unique_id", "conf_ingested_ts", "c_txn_id"]
    expected = _PAIRED + [("CH-1", "MeterValues", "u-meter", _t(240), None, None, None)]
    assert _rows(got) == sorted(expected, key=repr)


def test_correlate_default_pairs_every_action(spark):
    events, logs = _frames(spark)
    got = correlate(events, logs, 15, "3")
    assert got.columns == ["charger_id", "action", "unique_id", "ingested_ts",
                           "conf_unique_id", "conf_ingested_ts"]
    expected = [r[:6] for r in _PAIRED] + [
        ("CH-1", "MeterValues", "u-meter", _t(240), "u-meter", _t(241))]
    assert _rows(got) == sorted(expected, key=repr)
