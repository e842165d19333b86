#!/usr/bin/env python
"""sf100 sweep for the LLM-ops heavy family (VERDICT r8 #1): paired
Spark-vs-DuckDB hot runs over the 5M-doc / 2M-vector tmpfs replica.

Each entry waits for bench.py's settle gate (the scan-floor canary in
its steady band; the entry records that canary), runs 2 Spark trials
through bench.time_entry (cold, hot) and, when an oracle exists, 2
DuckDB trials in a SUBPROCESS with a hard timeout — at this scale some
all-pairs oracles are expected to DNF, and that is itself the
measurement (the Spark plan is the one that survives the decade). The
artifact also records the gate's settle summary.

Usage: python tools/sf100_llmops.py [SF_DIR] [ENTRY ...]
       python tools/sf100_llmops.py merge [JSONL] [NOTE]
Writes JSONL to /tmp/sf100_llmops.jsonl (append).

`merge` consolidates the JSONL into the repo-root artifact (last record
per entry wins). Needed when entries are swept one-per-process for
window isolation — each process's artifact write would otherwise keep
only its own entries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_ENTRIES = [
    # paired (oracle exists)
    "dedup_substring_spans",
    "dedup_minhash_components_replayable",
    "pipeline_clean_corpus_scalable_replayable",
    "semdedup_clustered",
    "similarity_topk",
    "similarity_ivf_fullprobe",
    "similarity_ivf_multiprobe_replayable",
    # spark-only (rows-only prod paths)
    "dedup_minhash_components",
    "pipeline_clean_corpus_scalable",
    "similarity_ivf_topk",
]

DUCK_TIMEOUT_S = int(os.environ.get("DUCK_TIMEOUT_S", "2400"))

_DUCK_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from kwwhat_spark.queries import REGISTRY
from tests.oracle_harness import duckdb_connection
sf_dir, name = sys.argv[1], sys.argv[2]
con = duckdb_connection(sf_dir)
con.execute("SET enable_progress_bar=false")
con.execute(f"SET threads={{os.cpu_count() or 8}}")
con.execute(f"SET memory_limit='{{os.environ.get('DUCK_MEM', '80GB')}}'")
con.execute("SET temp_directory='/tmp/duck_spill'")
times = []
for _ in range(2):
    t0 = time.perf_counter()
    n = len(con.execute(REGISTRY[name].oracle).fetchall())
    times.append(round(time.perf_counter() - t0, 2))
print("RESULT::" + json.dumps({{"times": times, "rows": n}}))
"""


def _classify_failure(rc: int) -> str:
    if rc == -9:
        try:
            km = subprocess.run(["dmesg"], capture_output=True, text=True,
                                timeout=10).stdout
            tail = km[-20000:]
            if "Out of memory: Killed process" in tail or "oom-kill" in tail:
                return "OOM_KILLED"
        except Exception:
            pass
        return "SIGKILL"
    return f"ERROR_rc{rc}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sf100"
    entries = sys.argv[2:] or DEFAULT_ENTRIES

    from bench import SETTLE_BUDGET_SEC, _canary_dir, _SettleGate, time_entry
    from kwwhat_spark.queries import REGISTRY
    from kwwhat_spark.session import get_spark

    spark = get_spark(app_name="sf100-llmops")
    spark.sparkContext.setLogLevel("ERROR")
    out_path = "/tmp/sf100_llmops.jsonl"
    runner = _DUCK_RUNNER.format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    results: list[dict] = []
    q_has_oracle = {n: bool(REGISTRY[n].oracle) for n in entries}
    # PHASE 1: every Spark trial under one JVM. PHASE 2: DuckDB probes
    # AFTER spark.stop() — on a 125 GB box a 64 GB driver heap and an
    # 80 GB DuckDB cannot coexist (r10: the paired layout OS-OOM-killed
    # the JVM, and a 45 GB DuckDB spilled /tmp toward disk-full);
    # sequential phases give each engine the whole machine, which is
    # also the fairer comparison.
    gate = _SettleGate(SETTLE_BUDGET_SEC, _canary_dir())
    for name in entries:
        rec: dict = {"entry": name, "sf_dir": sf_dir,
                     "load_start": os.getloadavg(), "canary_s": gate.wait(spark)}
        rec["spark_trials"] = time_entry(spark, name, sf_dir, 2)
        rec["spark_hot"] = min(rec["spark_trials"])
        results.append(rec)
        print(json.dumps(rec), flush=True)
    # spark.stop() alone is NOT enough to clear the box for phase 2: the
    # py4j gateway JVM stays alive until this python process exits, and a
    # stopped 64g-heap JVM was measured squatting 32 GB RSS and ~4 cores
    # (GC churn) through an entire DuckDB window. Terminate it explicitly.
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()

    for rec in results:
        name = rec["entry"]
        q = REGISTRY[name]
        if q.oracle:
            try:
                p = subprocess.run(
                    [sys.executable, "-c", runner, sf_dir, name],
                    capture_output=True, text=True, timeout=DUCK_TIMEOUT_S,
                )
                if p.returncode == 0:
                    duck = json.loads(p.stdout.rsplit("RESULT::", 1)[1].strip())
                    rec["duck_trials"] = duck["times"]
                    rec["duck_hot"] = min(duck["times"])
                    rec["duck_rows"] = duck["rows"]
                    rec["ratio_hot"] = round(rec["spark_hot"] / rec["duck_hot"], 2)
                else:
                    # Programmatic OOM verdict (VERDICT r9 #7): a global
                    # OOM kill delivers SIGKILL (rc == -9); confirm via
                    # the kernel log when readable.
                    rec["duck_rc"] = p.returncode
                    rec["duck_error"] = (p.stderr or "")[-400:]
                    rec["duck_verdict"] = _classify_failure(p.returncode)
            except subprocess.TimeoutExpired:
                rec["duck_dnf_s"] = DUCK_TIMEOUT_S
                rec["duck_verdict"] = "TIMEOUT"
        rec["load_end"] = os.getloadavg()
        print(json.dumps(rec), flush=True)
        with open(out_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    _write_artifact(results, q_has_oracle, sf_dir, settle=gate.record())


def _artifact_entry(r: dict, has_oracle: bool) -> dict:
    return {
        "spark_s": r.get("spark_hot"),
        "spark_trials": r.get("spark_trials"),
        "canary_s": r.get("canary_s"),
        **({"duckdb_s": r["duck_hot"], "duck_trials": r["duck_trials"],
            "ratio_hot": r.get("ratio_hot")} if "duck_hot" in r else {}),
        **({"duck_verdict": r["duck_verdict"],
            "duck_rc": r.get("duck_rc"),
            "duck_dnf_s": r.get("duck_dnf_s")} if "duck_verdict" in r else {}),
        **({} if has_oracle else {"rows_only": True}),
    }


def _write_artifact(results: list[dict], q_has_oracle: dict, sf_dir: str,
                    note: str | None = None, settle: dict | None = None) -> None:
    # Consolidated BENCH-style artifact for the repo root: one object per
    # entry with {spark_s, duckdb_s | verdict}.
    artifact = {
        "sf_dir": sf_dir,
        "entries": {r["entry"]: _artifact_entry(r, q_has_oracle.get(r["entry"], False))
                    for r in results},
        "loadavg_end": os.getloadavg(),
        **({"note": note} if note else {}),
        **({"settle": settle} if settle else {}),
    }
    dst = os.environ.get("LLMOPS_ARTIFACT",
                         os.path.join(os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__))), "sf100_llmops.json"))
    with open(dst, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print("artifact ->", dst)


def merge_main() -> None:
    jsonl = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf100_llmops.jsonl"
    note = sys.argv[3] if len(sys.argv) > 3 else None
    from kwwhat_spark.queries import REGISTRY

    by_entry: dict[str, dict] = {}
    with open(jsonl) as f:
        for line in f:
            line = line.strip()
            if line:
                rec = json.loads(line)
                by_entry[rec["entry"]] = rec  # last record per entry wins
    results = list(by_entry.values())
    q_has_oracle = {n: bool(REGISTRY[n].oracle) for n in by_entry}
    sf_dirs = {r.get("sf_dir") for r in results}
    _write_artifact(results, q_has_oracle, sf_dirs.pop() if len(sf_dirs) == 1
                    else ",".join(sorted(str(s) for s in sf_dirs)), note)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "merge":
        merge_main()
    else:
        main()
