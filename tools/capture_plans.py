#!/usr/bin/env python
"""Capture .explain("formatted") for headline (or named) catalog queries.

Usage:
  python tools/capture_plans.py <outdir> [--suffix before|after] [--sf-dir DIR]
                                [--queries name1,name2,...]

Writes <outdir>/<query>_<suffix>.txt for each query.  Explain-only: no
query execution beyond what planning needs (broadcast subtrees are NOT
built; AQE runtime re-plans are not visible here — this is the static
physical plan the optimizer commits to, which is what the plan-shape
claims in OPTIMIZATION_r12.md reference).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kwwhat_spark.queries import REGISTRY  # noqa: E402
from kwwhat_spark.session import get_spark  # noqa: E402
from tools.plan_sweep import JOINS, PYTHON, entry_plan  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()

    names = (
        [n.strip() for n in args.queries.split(",") if n.strip()]
        if args.queries
        else [n for n, q in REGISTRY.items() if q.headline]
    )
    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark(app_name="kwh-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        plan = entry_plan(spark, args.sf_dir, name)
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        joins = [j for j in JOINS if j in plan]
        pyn = [p for p in PYTHON if p in plan]
        print(f"{name:30s} Exchange={n_ex:2d} joins={joins} python={pyn} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
