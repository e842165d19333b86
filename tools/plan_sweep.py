#!/usr/bin/env python
"""Static-plan audit over every registry entry (guide §1.3).

Writes OUTFILE: per entry the Exchange count, join/python node
inventories, whether any scan shows PushedFilters, and the parquet-scan
count. plans/r12/plan_sweep_all_entries.json is one such sweep: the
artifact OPTIMIZATION_r12.md's full-catalog audit and the bounds in
tests/test_plan_audit.py cite it, so OUTFILE has no default and a rerun
never overwrites it unasked. Explain-only: no query execution.

Usage: python tools/plan_sweep.py OUTFILE [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kwwhat_spark.operators.cachescope import scope  # noqa: E402
from kwwhat_spark.queries import REGISTRY  # noqa: E402
from kwwhat_spark.session import get_spark  # noqa: E402

JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "CartesianProduct")
PYTHON = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
          "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


def entry_plan(spark, sf_dir: str, name: str) -> str:
    """Registry entry `name`'s static physical plan, as
    ``df.explain("formatted")`` prints it. Building a plan can persist,
    checkpoint or broadcast; all of it is released before this returns."""
    with scope():
        df = REGISTRY[name].spark(spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )


def numbered_nodes(plan: str) -> list[str]:
    """Operator names from the numbered detail section ("(N) Op") of an
    `explain` plan, so each operator counts once (the tree repeats shared
    subtrees)."""
    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outfile")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark(app_name="kwh-spark-plan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name in REGISTRY:
        try:
            plan = entry_plan(spark, args.sf_dir, name)
            nodes = numbered_nodes(plan)
            out[name] = {
                "exchanges": sum(1 for n in nodes if n == "Exchange"),
                "broadcasts": sum(1 for n in nodes if n == "BroadcastExchange"),
                "joins": sorted({j for j in JOINS if j in plan}),
                "python": sorted({p for p in PYTHON if p in plan}),
                "pushed": bool(
                    re.search(r"^PushedFilters: \[[^\]]", plan, re.M)
                ),
                "scans": sum(1 for n in nodes if n == "Scan"),
            }
        except Exception as e:  # noqa: BLE001 - audit must cover all entries
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
    with open(args.outfile, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    errs = [n for n, v in out.items() if "error" in v]
    batch_eval = [n for n, v in out.items()
                  if "BatchEvalPython" in v.get("python", [])]
    print(f"swept {len(out)} entries -> {args.outfile}; "
          f"errors={errs}; BatchEvalPython={batch_eval}")
    spark.stop()


if __name__ == "__main__":
    main()
