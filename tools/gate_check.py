"""Local replica of the driver gate with per-entry timing.

Usage: python tools/gate_check.py [--sf-dir DIR] [name ...]
Runs every (or the named) catalog entries' Spark query and DuckDB oracle
at sf0.01, compares exactly, prints per-entry wall seconds for both
engines.  The timing column is the tool for keeping the whole catalog
inside the driver's gate budget.

An oracle match on 0 rows proves nothing, so such an entry is checked
again on each next testdata scale beside DIR (sf0.001 -> sf0.01 ->
sf0.1) until one gives rows; if none does it is reported "empty", not
"ok".
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time

sys.path.insert(0, ".")

from bench import _canary_dir, _loadavg, _rig_verdict, _scan_floor  # noqa: E402
from kwwhat_spark.operators.cachescope import scope  # noqa: E402
from kwwhat_spark.queries import REGISTRY  # noqa: E402
from kwwhat_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_connection  # noqa: E402

TIMINGS_PATH = os.path.join(os.path.dirname(__file__), "gate_timings.json")
SCALES = ("sf0.001", "sf0.01", "sf0.1")


def scales_from(sf_dir: str) -> list[str]:
    """``sf_dir``, then the larger testdata scales that sit beside it."""
    root, name = os.path.split(os.path.normpath(sf_dir))
    later = SCALES[SCALES.index(name) + 1:] if name in SCALES else ()
    return [sf_dir] + [
        os.path.join(root, s) for s in later if os.path.isdir(os.path.join(root, s))
    ]


def check(spark, name: str, sf_dir: str, con_for) -> tuple[str, list[str]]:
    """(status, problems) of one oracle entry: "ok" once a scale matches
    its oracle on at least one row, "FAIL" on the first mismatch, and
    "empty" when every scale matches on 0 rows."""
    oracle = REGISTRY[name].oracle
    for d in scales_from(sf_dir):
        con = con_for(d)
        problems = compare(REGISTRY[name].spark(spark, d), con, oracle)
        if problems:
            return "FAIL", [f"{d}: {p}" for p in problems]
        if con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0]:
            return "ok" if d == sf_dir else f"ok@{os.path.basename(d)}", []
    return "empty", []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    load_start = _loadavg()
    spark = get_spark()
    con_for = functools.cache(duckdb_connection)
    names = args.names or list(REGISTRY)
    # Warm the JVM + parquet footers so the first entry's timing measures
    # the entry, not session startup (r3 showed pricing_summary charged
    # ~4 s of warmup simply for running first).
    from kwwhat_spark.sources.testdata import load_table

    load_table(spark, args.sf_dir, "lineitem").count()
    # Scan-floor canary (ADVICE r12: the loadavg<=7 heuristic cannot see
    # per-core host throttling — the r12 snapshot self-labeled steady at
    # 865 s total with 10x-inflated entries).
    canary_dir = _canary_dir()
    canary_start = _scan_floor(spark, canary_dir)
    failures = []
    empty = []
    timings: dict[str, float] = {}
    t_total = time.time()
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        with scope():  # what the entry keeps ends with it
            try:
                if q.oracle is None:
                    n = q.spark(spark, args.sf_dir).count()
                    t_spark = time.time() - t0
                    timings[name] = round(t_spark, 2)
                    print(f"{name:40s} rows-only n={n:<8d} spark={t_spark:6.2f}s", flush=True)
                    continue
                status, problems = check(spark, name, args.sf_dir, con_for)
            except Exception as e:  # noqa: BLE001
                status, problems = "FAIL", [f"EXCEPTION: {e!r}"[:300]]
        t_spark = time.time() - t0
        timings[name] = round(t_spark, 2)
        print(f"{name:40s} {status:4s} total={t_spark:6.2f}s", flush=True)
        if status == "empty":
            empty.append(name)
        for p in problems:
            failures.append(name)
            print(f"    {p[:400]}", flush=True)
    total = time.time() - t_total
    print(f"TOTAL {total:.1f}s  failures={sorted(set(failures))}  empty={empty}", flush=True)
    # Persist per-entry timings when the whole catalog ran: the budget
    # tool for keeping all entries inside one driver round (VERDICT r2
    # item 10). Committed to the repo so rounds can diff it.
    if not args.names:
        # Rig self-label (ADVICE r10: a load-contaminated snapshot with
        # 3-6x outliers was committed unnoticed; ADVICE r12: loadavg alone
        # missed a throttle epoch entirely).
        canary_end = _scan_floor(spark, canary_dir)
        with open(TIMINGS_PATH, "w") as f:
            json.dump(
                {"sf_dir": args.sf_dir, "total_sec": round(total, 1),
                 "load_start": load_start,
                 "load_end": _loadavg(),
                 "scan_floor_sec": {"before": canary_start, "after": canary_end},
                 "rig": _rig_verdict(canary_start, canary_end, load_start),
                 "entries": timings},
                f, indent=1, sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
