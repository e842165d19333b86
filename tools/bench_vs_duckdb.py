#!/usr/bin/env python
"""Hot Spark-vs-DuckDB comparison on the headline catalog queries.

For each headline query with an oracle, runs the Spark plan and the
oracle SQL twice each on the same parquet dir and reports the faster
(hot) time. Usage: python tools/bench_vs_duckdb.py [SF_DIR] [QUERY ...]
— with explicit QUERY names, measures those instead of the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_entry
from kwwhat_spark.queries import REGISTRY
from kwwhat_spark.session import get_spark
from tests.oracle_harness import duckdb_connection


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        "/dev/shm/sf1" if os.path.isdir("/dev/shm") else "/tmp/sf1"
    )
    spark = get_spark(app_name="bench-vs-duckdb")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    con.execute(f"SET threads={os.cpu_count() or 8}")

    wanted = sys.argv[2:]
    unknown = [n for n in wanted if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; available: {sorted(REGISTRY)}")
    out = {}
    for name, q in REGISTRY.items():
        if wanted and name not in wanted:
            continue
        if not wanted and not q.headline:
            continue
        spark_hot = min(time_entry(spark, name, sf_dir, 2))
        duck_hot = None
        if q.oracle:
            duck = []
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(q.oracle).fetchall()
                duck.append(time.perf_counter() - t0)
            duck_hot = min(duck)
        out[name] = {
            "spark_hot_s": round(spark_hot, 3),
            "duckdb_hot_s": round(duck_hot, 3) if duck_hot is not None else None,
        }
        print(name, out[name], flush=True)
    print(json.dumps({"sf_dir": sf_dir, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
