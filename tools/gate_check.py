"""Local replica of the driver gate with per-entry timing.

Usage: python tools/gate_check.py [--sf-dir DIR] [name ...]
Runs every (or the named) catalog entries' Spark query and DuckDB oracle
at sf0.01, compares exactly, prints per-entry wall seconds for both
engines.  The timing column is the tool for keeping the whole catalog
inside the driver's gate budget.
"""

from __future__ import annotations

import argparse
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    load_start = _loadavg()
    spark = get_spark()
    con = duckdb_connection(args.sf_dir)
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
    timings: dict[str, float] = {}
    t_total = time.time()
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        with scope():  # what the entry keeps ends with it
            try:
                df = q.spark(spark, args.sf_dir)
                if q.oracle is None:
                    n = df.count()
                    t_spark = time.time() - t0
                    timings[name] = round(t_spark, 2)
                    print(f"{name:40s} rows-only n={n:<8d} spark={t_spark:6.2f}s", flush=True)
                    continue
                problems = compare(df, con, q.oracle)
            except Exception as e:  # noqa: BLE001
                problems = [f"EXCEPTION: {e!r}"[:300]]
        t_spark = time.time() - t0
        timings[name] = round(t_spark, 2)
        status = "ok" if not problems else "FAIL"
        print(f"{name:40s} {status:4s} total={t_spark:6.2f}s", flush=True)
        for p in problems:
            failures.append(name)
            print(f"    {p[:400]}", flush=True)
    total = time.time() - t_total
    print(f"TOTAL {total:.1f}s  failures={sorted(set(failures))}", flush=True)
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
