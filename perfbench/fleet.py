"""Seeded OCPP 1.6 fleet generator: the four raw source CSVs
(``raw_ocpp_logs``, ``chargers``, ``ports``, ``connectors``; FIXTURES.md
§1) for a fleet of a given size over a given number of days.

Charger timelines follow the adversarial shapes of the DAG property
harness (tests/test_ocpp_dag_property.py): confirmation delays around
the 15 s window, preparing→start delays around the 300 s threshold,
missing CALLRESULTs and StopTransactions, energy around the 0.1 kWh
floor, repeated statuses, Faulted episodes, heartbeat gaps around the
300 s offline threshold and visit gaps around 2 and 30 minutes. Each
charger loops its timeline until the last day ends.

Determinism rules (the DuckDB oracle must agree with Spark to the bit):
every charger's clock carries its own millisecond offset and advances
in whole 100 ms steps, so rows of different chargers never share a
timestamp; meter values are exact binary fractions (multiples of 0.25).
All randomness flows from ``seed``. The offsets stay distinct modulo
100 ms for up to 14 chargers.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
import random

BASE = dt.datetime(2025, 10, 2, 0, 0, 0)
LOGS_NAME = "ocpp_1_6_synthetic_logs_14d.csv"
LOGS_HEADER = ["timestamp", "id", "action", "msg"]


def iso(t: dt.datetime) -> str:
    return t.isoformat(timespec="milliseconds") + "Z"


class _Charger:
    """One charger's message stream: a clock, a uid counter and rows."""

    def __init__(self, rng: random.Random, dup_rng: random.Random, charger: str,
                 start: dt.datetime):
        self.rng = rng
        # Redeliveries draw from their own stream so that they only add
        # rows and never shift the main stream's choices.
        self.dup_rng = dup_rng
        self.charger = charger
        self.t = start
        self.rows: list[tuple[str, str, str, str]] = []
        self._uid = 0

    def advance(self, seconds: float) -> None:
        self.t += dt.timedelta(seconds=seconds)

    def call(self, action: str, payload: dict, conf_payload=None, conf_delay=0.1):
        self._uid += 1
        uid = f"{action[:5].lower()}-{self.charger}-{self._uid:05d}"
        self.rows.append((iso(self.t), self.charger, action,
                          json.dumps([2, uid, action, payload])))
        if conf_payload is not None:
            conf_t = self.t + dt.timedelta(seconds=conf_delay)
            self.rows.append((iso(conf_t), self.charger, "",
                              json.dumps([3, uid, conf_payload])))

    def status(self, connector: int, status: str, error="NoError", conf_delay=0.1):
        # Advance first: two status rows of one charger never share a
        # timestamp, which keeps every ORDER BY ingested_ts total.
        self.advance(1)
        before = len(self.rows)
        self.call("StatusNotification",
                  {"connectorId": connector, "status": status, "errorCode": error},
                  conf_payload=None if conf_delay is None else {},
                  conf_delay=conf_delay or 0.1)
        if self.dup_rng.random() < 0.08:
            self.rows.append(self.rows[before])

    def heartbeat(self) -> None:
        self.call("Heartbeat", {}, conf_payload={"currentTime": iso(self.t)})


def _session(g: _Charger, connector: int, meter: int, txn_id: int, id_tag) -> int:
    """One charge attempt; returns the meter register after it."""
    rng = g.rng
    g.status(connector, "Preparing",
             conf_delay=rng.choice([0.1, 5.0, 14.8, 15.0, 15.2, None]))
    if id_tag and rng.random() < 0.7:
        g.advance(rng.choice([1, 5]))
        g.call("Authorize", {"idTag": id_tag},
               conf_payload={"idTagInfo": {"status": rng.choice(["Accepted", "Blocked"])}})
    if rng.random() < 0.4:
        for gap in rng.choice([[10], [44], [46], [10, 44]]):
            g.advance(gap)
            g.call("RemoteStartTransaction",
                   {"connectorId": connector, "idTag": id_tag or "TAG-REMOTE"},
                   conf_payload={"status": "Accepted"})
    g.advance(rng.choice([1, 30, 299, 300, 301]))
    started = rng.random() < 0.85
    if started:
        start_conf = ({"transactionId": txn_id, "idTagInfo": {"status": "Accepted"}}
                      if rng.random() < 0.85 else None)
        g.call("StartTransaction",
               {"connectorId": connector, "idTag": id_tag or "TAG-ANON",
                "timestamp": iso(g.t), "meterStart": meter},
               conf_payload=start_conf, conf_delay=0.2)
        g.advance(2)
        g.status(connector, "Charging")
        for _ in range(rng.randint(1, 3)):
            g.advance(rng.choice([60, 300, 900]))
            v = meter + rng.choice([0, 25, 150, 2000])
            g.call("MeterValues", {
                "connectorId": connector, "transactionId": txn_id,
                "meterValue": [{
                    "timestamp": iso(g.t),
                    "sampledValue": [
                        {"value": f"{v}.0", "unit": "Wh",
                         "measurand": "Energy.Active.Import.Register"},
                        {"value": f"{210 + (v % 8) * 0.25}", "unit": "V",
                         "measurand": "Voltage", "phase": "L1"},
                        {"value": f"{(v % 16) * 0.25}", "unit": "A",
                         "measurand": "Current.Import", "phase": "L1"},
                    ],
                }],
            }, conf_payload={})
        meter += rng.choice([50, 99, 100, 150, 2500])
        if rng.random() < 0.85:
            g.advance(rng.choice([30, 120]))
            stop = {"transactionId": txn_id, "meterStop": meter, "timestamp": iso(g.t)}
            reason = rng.choice(["EVDisconnected", "Local", "Remote", "PowerLoss", None])
            if reason is not None:
                stop["reason"] = reason
            g.call("StopTransaction", stop, conf_payload={})
    g.advance(2)
    if started and rng.random() < 0.2:
        g.status(connector, "Charging")  # repeated non-change
    g.status(connector, rng.choice(["Finishing", "Available"]))
    g.advance(1)
    g.status(connector, "Available")
    return meter


def _timeline(g: _Charger, connectors: list[int], tags: list, meter: int, txn: int,
              hb: int) -> tuple[int, int]:
    """One loop of a charger's day: sessions, heartbeat runs, visit gaps
    and an optional Faulted episode. Returns (meter, next txn id)."""
    rng = g.rng
    for c in connectors:
        g.status(c, "Available")
        g.advance(1)
    for _ in range(rng.randint(1, 4)):
        meter = _session(g, rng.choice(connectors), meter, txn, rng.choice(tags))
        txn += 1
        for _ in range(rng.randint(1, 3)):
            g.advance(hb)
            g.heartbeat()
        g.advance(60 * rng.choice([1, 2, 3, 29, 30, 31, 45]))
    if rng.random() < 0.35:
        bad = connectors if rng.random() < 0.5 else connectors[:1]
        for c in bad:
            g.status(c, "Faulted", error="GroundFailure")
            g.advance(2)
        g.advance(rng.choice([300, 900]))
        for c in bad:
            g.status(c, "Available")
            g.advance(2)
    g.advance(hb)
    g.heartbeat()
    return meter, txn


def generate(seed: int, chargers: int, days: int = 14) -> dict[str, list[tuple]]:
    """The four source tables as row lists; the logs sorted by timestamp.

    A charger's shape (ports, connectors, heartbeat interval, a
    decommission) follows its index, so every fleet of three or more
    chargers has each shape and the row count varies little with the
    seed; what happens on each charger follows the seed. One extra
    charger sends no messages and appears in the dimensions only."""
    rng = random.Random(seed)
    end = BASE + dt.timedelta(days=days)
    charger_rows, ports, connectors, logs = [], [], [], []
    for i in range(chargers + 1):
        ch = f"CH-{i:04d}"
        loc = f"LOC-{i // 3:03d}"
        commissioned = rng.choice(["2025-09-20T00:00:00.000Z", "2025-10-05T12:00:00.000Z"])
        decommissioned = iso(BASE + dt.timedelta(days=days * 0.8)) if i % 3 == 2 else ""
        charger_rows.append((ch, loc, commissioned, decommissioned))
        conn_ids, conn_no = [], 1
        for p in range(1, 2 + i % 2):
            ports.append((ch, str(p)))
            for _ in range(1 + (i // 2) % 2):
                connectors.append((ch, str(p), str(conn_no), rng.choice(["CCS", "NACS"])))
                conn_ids.append(conn_no)
                conn_no += 1
        if i == chargers:
            continue
        g = _Charger(rng, random.Random(f"dup-{seed}-{ch}"), ch,
                     BASE + dt.timedelta(hours=6, milliseconds=i * 7 + 1))
        tags = [f"TAG-{loc}-A", f"TAG-{loc}-B", None]
        meter = 2_000_000 + rng.randrange(100) * 1000
        txn = 1000 + i * 100_000
        hb = (240, 299, 301, 600)[i % 4]
        while g.t < end:
            meter, txn = _timeline(g, conn_ids, tags, meter, txn, hb)
        logs.extend(r for r in g.rows if r[0] < iso(end))
    logs.sort(key=lambda r: r[0])
    return {"logs": logs, "chargers": charger_rows, "ports": ports,
            "connectors": connectors}


_FILES = (
    (LOGS_NAME, "logs", LOGS_HEADER),
    ("chargers.csv", "chargers",
     ["charge_point_id", "location_id", "commissioned_ts", "decommissioned_ts"]),
    ("ports.csv", "ports", ["charge_point_id", "port_id"]),
    ("connectors.csv", "connectors",
     ["charge_point_id", "port_id", "connector_id", "connector_type"]),
)


def write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def write_fleet(out_dir: str, tables: dict[str, list[tuple]]) -> dict:
    """Write the four CSVs; return the log row count and a content digest
    over all four files (bytes as written)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for fname, key, header in _FILES:
        path = os.path.join(out_dir, fname)
        write_csv(path, header, tables[key])
        with open(path, "rb") as f:
            h.update(fname.encode() + b"\0" + f.read())
    return {"rows": len(tables["logs"]), "digest": h.hexdigest()[:16]}
