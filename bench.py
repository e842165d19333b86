#!/usr/bin/env python
"""Benchmark: run the headline catalog queries at $SPARK_GRAFT_SF_DIR
on local[$SPARK_GRAFT_CPUS].

When $SPARK_GRAFT_SF_DIR is unset, the headline scale is sf1: the
driver's sf0.1 parquet replicated 10x with key offsets into /tmp/sf1
(built on demand, ~15 s, deterministic — tools/scale_testdata.py).  At
sf0.1 both engines are constant-overhead-bound and the numbers measure
session startup, not plans; at sf1 they are data-bound (BASELINE.md
"honest comparison needs sf>=1").

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kwwhat_spark.operators.cachescope import scope  # noqa: E402
from kwwhat_spark.queries import REGISTRY  # noqa: E402
from kwwhat_spark.session import get_spark  # noqa: E402

# The sf0.1 testdata: the source of the sf1 replica and the canary's input.
SF01_DIR = "/root/testdata/sf0.1"


def _default_sf_dir() -> str:
    """sf1 replicated from the driver's sf0.1 on first use.  Lives on
    tmpfs when available: this rig's disk page cache is capped near
    1 GB, so disk-resident parquet re-reads every run at bimodal latency
    (measured 0.2 s vs 2.2 s for the same scan) — tmpfs makes bench
    numbers measure plans, not the neighbors' I/O."""
    dst = "/dev/shm/sf1" if os.path.isdir("/dev/shm") else "/tmp/sf1"
    from tools.scale_testdata import TABLES, build

    if not all(os.path.exists(os.path.join(dst, f"{t}.parquet")) for t in TABLES):
        build(10, SF01_DIR, dst)
    return dst


def _stage_to_tmpfs(sf_dir: str) -> str:
    """Copy a disk-resident sf dir to tmpfs before benching.  Same
    bytes, same queries — only the storage latency changes, and on this
    rig disk reads are the dominant noise source (see _default_sf_dir).
    No-op when the dir already sits on tmpfs or tmpfs is absent."""
    if sf_dir.startswith("/dev/shm") or not os.path.isdir("/dev/shm"):
        return sf_dir
    import shutil

    names = [n for n in os.listdir(sf_dir) if n.endswith(".parquet")]
    # tmpfs is RAM: staging an arbitrarily large sf dir can OOM the rig.
    # Require the copy to fit with 2 GiB of headroom, else bench from
    # the source dir (slower but safe) and say so.
    need = sum(os.path.getsize(os.path.join(sf_dir, n)) for n in names)
    free = shutil.disk_usage("/dev/shm").free
    if need + (2 << 30) > free:
        print(
            f"# bench: not staging {sf_dir} to tmpfs "
            f"({need >> 20} MiB needed, {free >> 20} MiB free); reading from disk",
            file=sys.stderr,
        )
        return sf_dir
    dst = os.path.join("/dev/shm/bench-cache", os.path.basename(sf_dir.rstrip("/")))
    for name in names:
        s, d = os.path.join(sf_dir, name), os.path.join(dst, name)
        if not os.path.exists(d) or os.path.getmtime(d) < os.path.getmtime(s):
            os.makedirs(dst, exist_ok=True)
            shutil.copy2(s, d)
    return dst if os.path.isdir(dst) else sf_dir


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):  # pragma: no cover - non-Linux
        return []


def _scan_floor(spark, sf_dir: str) -> float:
    """Canary: best-of-2 bare scan-sum over lineitem — a fixed physical
    shape whose steady-state time is known (BASELINE.md floor table).
    Measured before AND after the query loop; when the rig is contended
    the canary inflates with everything else, which makes a noisy round
    diagnosable from the BENCH artifact alone instead of needing a
    builder-side reproduction (the r2/r3 scoreboard divergence)."""
    from pyspark.sql import functions as F

    from kwwhat_spark.sources.testdata import load_table

    def once() -> float:
        t0 = time.perf_counter()
        load_table(spark, sf_dir, "lineitem").agg(
            F.count("*"), F.sum("l_quantity")
        ).collect()
        return time.perf_counter() - t0

    return round(min(once(), once()), 4)


def _canary_dir() -> str:
    """The canary's one input for every tool: the sf0.1 testdata, staged
    to tmpfs. The steady band below is a band for this input; a canary
    over the directory being measured would leave it at sf0.01 and
    sf100."""
    return _stage_to_tmpfs(SF01_DIR)


N_TRIALS = 3

# Steady-state bands for the rig verdict (BASELINE.md "Scan-floor
# canary": steady ≈ 0.15–0.31 s at sf0.1/sf1 on tmpfs; r10's contended
# session read 0.308/0.163 under loadavg 9.6 vs r9's 0.263/0.113 at 6.0).
# Only the PRE-bench loadavg is diagnostic: the bench itself saturates
# local[32], so even r9's steady run ENDED at loadavg 8.8.
STEADY_CANARY_MAX = 0.32
STEADY_START_LOAD_MAX = 7.0

# Settle-then-measure (r13, additive): the host schedules multi-minute
# throttle epochs (BASELINE.md rig mechanism; r12's four contended
# benches, and r13's first settle-at-start-only run, where epochs
# landed MID-run on whole trial triples). A trial started inside an
# epoch measures the epoch, not the plan — so every trial is gated on
# the scan-floor canary being in the steady band, all waits drawing on
# one bounded budget. The timed region per trial is unchanged (same
# noop sink, same min-of-N_TRIALS); the gate only chooses WHEN the
# unchanged trial starts, which is the rig label made actionable. The
# artifact records total wait, per-gate canary attempts, and whether
# the budget ran dry. SPARK_GRAFT_BENCH_SETTLE_SEC=0 disables.
SETTLE_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", 600))
SETTLE_POLL_SEC = 20.0

# A fresh JVM's canary reads cold and keeps falling over its first reads
# (an idle 4-vCPU machine: 0.48, 0.40, 0.37, 0.26, 0.24 s). Before the
# first gate it is read until one read is in the steady band or two
# successive reads agree within WARM_AGREE (the JVM is warm, so a read
# above the band is the machine), at most WARM_READS reads.
WARM_READS = 6
WARM_AGREE = 0.05


class _SettleGate:
    """Bounded canary gate: wait until the scan-floor canary enters the
    steady band, spending from one shared budget across the whole run."""

    def __init__(self, budget_sec: float, canary_dir: str) -> None:
        self.canary_dir = canary_dir
        self.left = budget_sec
        self.waited = 0.0
        self.gates = 0
        self.waits = 0
        self.exhausted = False

    def wait(self, spark) -> float:
        self.gates += 1
        floor = _scan_floor(spark, self.canary_dir)
        for _ in range(WARM_READS - 1 if self.gates == 1 else 0):
            if floor <= STEADY_CANARY_MAX:
                break
            prev, floor = floor, _scan_floor(spark, self.canary_dir)
            if abs(floor - prev) <= WARM_AGREE * prev:
                break
        while floor > STEADY_CANARY_MAX and self.left > 0:
            self.waits += 1
            t0 = time.perf_counter()
            time.sleep(min(SETTLE_POLL_SEC, max(1.0, self.left)))
            floor = _scan_floor(spark, self.canary_dir)
            dt = time.perf_counter() - t0
            self.left -= dt
            self.waited += dt
        if floor > STEADY_CANARY_MAX and self.left <= 0:
            self.exhausted = True
        return floor

    def record(self) -> dict:
        return {
            "waited_sec": round(self.waited, 1),
            "gates": self.gates,
            "waits": self.waits,
            "budget_sec": SETTLE_BUDGET_SEC,
            "budget_exhausted": self.exhausted,
        }


def _rig_verdict(
    floor_before: float, floor_after: float, load_start: list[float]
) -> dict:
    """One-line machine-noise verdict so the artifact self-labels —
    adjudicating a ±10% total no longer needs a builder-side A/B
    (r10's +2.3% rode a loadavg-9.6 session and took a manual
    same-window A/B to clear)."""
    if not load_start:
        return {"verdict": "unknown", "why": "loadavg unavailable"}
    reasons = []
    worst_canary = max(floor_before, floor_after)
    if worst_canary > STEADY_CANARY_MAX:
        reasons.append(
            f"canary {worst_canary:.3f}s > steady band max {STEADY_CANARY_MAX}"
        )
    if load_start[0] > STEADY_START_LOAD_MAX:
        reasons.append(
            f"pre-bench loadavg {load_start[0]:.1f} > {STEADY_START_LOAD_MAX}"
        )
    if reasons:
        return {"verdict": "contended", "why": "; ".join(reasons)}
    return {
        "verdict": "steady",
        "why": f"canary {worst_canary:.3f}s in band, pre-bench loadavg "
        f"{load_start[0]:.1f} <= {STEADY_START_LOAD_MAX}",
    }


def time_entry(spark, name: str, sf_dir: str, trials: int, before=None) -> list[float]:
    """Seconds of each of `trials` runs of catalog entry `name` at
    `sf_dir`, written to the noop sink. `before()`, when given, runs
    ahead of every trial, outside the timed region.

    The DataFrame is rebuilt for every trial: Spark 4 caches an executed
    DataFrame's result stage, so a second run of the same one measures
    nothing."""
    runs = []
    # One cache scope around all trials: later trials still reuse a
    # stage the first one persisted, and everything the entry kept is
    # freed when it ends. Left to pile up across a run, those caches
    # fill storage memory and every later entry degrades under eviction
    # and GC pressure (measured: dedup_substring_spans 11.7 s inside a
    # full bench run vs 1.1 s hot in isolation).
    with scope():
        for _ in range(trials):
            if before is not None:
                before()
            t0 = time.perf_counter()
            REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or _default_sf_dir()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_dir = _stage_to_tmpfs(sf_dir)
    load_start = _loadavg()
    spark = get_spark(app_name="kwh-spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    names = [n for n, q in REGISTRY.items() if q.headline] or list(REGISTRY)
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    REGISTRY[names[0]].spark(spark, sf_dir).count()
    canary_dir = _canary_dir()
    gate = _SettleGate(SETTLE_BUDGET_SEC, canary_dir)
    floor_before = gate.wait(spark)

    # N_TRIALS runs per query, report the best: the first run includes
    # plan compilation and cold page cache, and back-to-back runs drift
    # with GC pressure — the steady-state minimum is the reproducible
    # number (the per-run spread is environment noise, not plan
    # behavior). ALL trials are emitted so a contended round is visible
    # in the artifact itself: honest steady state shows a tight spread,
    # host contention shows every query's trials inflated together.
    timings: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    pre_canaries: dict[str, list[float]] = {}
    for name in names:
        # Gate every trial on the canary (r13): the first canary of a
        # query doubles as the epoch detector for the previous trial —
        # an epoch that starts mid-trial is caught here and waited out
        # before the next trial runs.
        cans = pre_canaries[name] = []
        trials[name] = time_entry(
            spark, name, sf_dir, N_TRIALS, lambda: cans.append(gate.wait(spark))
        )
        timings[name] = min(trials[name])

    floor_after = _scan_floor(spark, canary_dir)
    load_end = _loadavg()
    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Noise forensics: per-query trial times, a fixed-shape scan
        # canary measured before/after the loop (steady band documented
        # in BASELINE.md), and host load. A clean run has tight trial
        # spreads and both canaries in-band; quasi-uniform inflation
        # with an inflated canary = host contention, not a plan change.
        "trials": trials,
        "scan_floor_sec": {"before": floor_before, "after": floor_after},
        "settle": gate.record(),
        "pre_trial_canaries": pre_canaries,
        "loadavg": {"start": load_start, "end": load_end},
        "rig": _rig_verdict(floor_before, floor_after, load_start),
        "n_trials": N_TRIALS,
        "per_query_stat": "min",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
