"""kwh-spark benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload ocpp_build --seed 1 --seconds 1 --trace 0

Workloads (perfbench/ocpp.py, perfbench/catalog.py):

- ``ocpp_build``: full-refresh build of the OCPP model DAG up to the
  charge-attempt and visit marts on a seeded fleet, the marts written
  through the sinks, then their declared quality checks. Bound by stage
  and job overhead on a few cores.
- ``catalog_headline``: the headline catalog queries (TPC-H style
  joins, event windows, LLM dedup, similarity and curation) on seeded
  tables; the only workload on ``queries``/``operators``/``functions``.

A run generates its inputs from ``--seed`` and sets up three times
(``setup_s`` is the median), then times passes of the workload until
``--seconds`` have gone by, at least one. A pass is cold: warming the
JIT and codegen caches costs a pass of the same length, because both
workloads are bound by per-stage overhead rather than by rows.
Outputs are checked outside the timed region. The last line of stdout
is one JSON record; with ``--trace 1`` its metrics are the per-layer
ones, from spans around each engine call and Spark's event log.

Exits 2 without a record when the engine is not in the current
directory. Everything a run writes goes under ``.perfbench/`` in the
current directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

WORKLOADS = ("ocpp_build", "catalog_headline")
SETUP_REPEATS = 3
WORK_ROOT = ".perfbench"
# Generous for one local JVM on inputs of a few MB, and small enough
# for a 16 GB host that runs other work.
DRIVER_MEMORY = "3g"

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
]


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    work: str
    ops: int = 0


def _workloads():
    from perfbench.catalog import CatalogHeadline
    from perfbench.ocpp import OcppBuild

    return {w.name: w for w in (OcppBuild, CatalogHeadline)}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run reports: name -> (unit, better)."""
    from perfbench.catalog import HEADLINE
    from perfbench.ocpp import TIMED_MODELS

    spec = {
        "session.start_s": ("s", "lower"),
        "session.jvm_peak_rss_mb": ("MB", "lower"),
        "sources.scan_s": ("s", "lower"),
        "sources.rows": ("count", "higher"),
    }
    for name in TIMED_MODELS:
        spec[f"models.{name}.s"] = ("s", "lower")
        spec[f"models.{name}.stages"] = ("count", "lower")
    for layer in ("staging", "intermediate", "marts"):
        spec[f"models.{layer}.s"] = ("s", "lower")
        spec[f"models.{layer}.jobs"] = ("count", "lower")
        spec[f"models.{layer}.stages"] = ("count", "lower")
    spec.update({
        "sinks.write_s": ("s", "lower"),
        "sinks.bytes_written": ("bytes", "lower"),
        "sinks.files_written": ("count", "lower"),
        "quality.checks_s": ("s", "lower"),
        "quality.violations": ("count", "lower"),
        "bi.route_s": ("s", "lower"),
        "bi.compile_s": ("s", "lower"),
        "bi.exec_s": ("s", "lower"),
        "bi.jobs_per_question": ("count", "lower"),
        "bi.stages_per_question": ("count", "lower"),
        "metrics.query_s": ("s", "lower"),
        "metrics.stages_per_query": ("count", "lower"),
    })
    for name in HEADLINE:
        spec[f"queries.{name}.s"] = ("s", "lower")
        spec[f"queries.{name}.stages"] = ("count", "lower")
    spec.update({
        "spark.jobs": ("count", "lower"),
        "spark.stages": ("count", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.executor_s": ("s", "lower"),
        "spark.busy_ratio": ("ratio", "higher"),
        "spark.shuffle_write_bytes": ("bytes", "lower"),
        "spark.spill_bytes": ("bytes", "lower"),
        "rig.canary_s": ("s", "lower"),
        "rig.loadavg_1m": ("load", "lower"),
        "trace.run_s": ("s", "lower"),
    })
    return spec


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(root: str, work: str) -> dict[str, str]:
    """Process environment for the engine. It must be in place before
    the JVM starts: Python workers inherit it from the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # Python UDF workers import the engine by module path.
        "PYTHONPATH": root,
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Every JVM, spark-submit's launcher too: no hsperfdata under
        # /tmp, and temp files in the work dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        # Progress bars share stdout with the result record.
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_engine(spark) -> None:
    """Stop Spark, then the gateway JVM and the Python workers it
    started, and wait until each has exited."""
    proc = spark.sparkContext._gateway.proc
    procs = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _rig(spark, ctx) -> dict:
    """Rig label: bench.py's scan-floor canary on a generated lineitem,
    and the 1-minute load average."""
    from bench import _scan_floor

    from perfbench import tables

    canary_dir = os.path.join(ctx.work, "canary")
    tables.write_tables(canary_dir, {"lineitem": tables.generate(ctx.seed)["lineitem"]})
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"rig.canary_s": (_scan_floor(spark, canary_dir), "s"),
            "rig.loadavg_1m": (load, "load")}


def run(args, root: str) -> dict:
    work = os.path.abspath(os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}"))
    os.makedirs(work)
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def _run(args, root: str, work: str) -> dict:
    _environment(root, work)
    t0 = time.perf_counter()
    from kwwhat_spark.session import get_spark

    from perfbench import spans

    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=_spark_conf(work, args.trace))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark.sparkContext, args.trace)
        ctx = Context(spark=spark, tracer=tracer, seed=args.seed, work=work)
        wl = _workloads()[args.workload](ctx)

        setup_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t)

        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            ctx.ops = 0
            t = time.perf_counter()
            with tracer.span("run"):
                wl.run()
            passes.append(time.perf_counter() - t)
        run_ops = ctx.ops

        ctx.ops = 0
        problems = wl.check()
        attempted = run_ops + ctx.ops
        for p in problems:
            print(f"# check failed: {p}", file=sys.stderr)

        run_s = statistics.median(passes)
        record = {"correct": not problems, "attempted": attempted,
                  "failed": len(problems)}
        print(f"# {args.workload} seed={args.seed} inputs={wl.inputs} "
              f"passes={[round(p, 3) for p in passes]} "
              f"setups={[round(s, 3) for s in setup_times]}", file=sys.stderr)
        if not args.trace:
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "run_s": (run_s, "s"),
                "rows_per_s": (wl.inputs["rows"] / run_s, "rows/s"),
            }
        else:
            metrics = {
                "session.start_s": (session_s, "s"),
                "session.jvm_peak_rss_mb": (_jvm_peak_rss_mb(spark), "MB"),
                "trace.run_s": (run_s, "s"),
            }
            metrics.update(_rig(spark, ctx))
    except BaseException:
        _stop_engine(spark)
        raise
    _stop_engine(spark)
    if args.trace:
        metrics = _layer_metrics(wl, tracer, work, run_s, metrics)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return record


def _layer_metrics(wl, tracer, work: str, run_s: float, metrics: dict) -> dict:
    from perfbench import spans

    groups = spans.fold_event_log(spans.event_log_file(os.path.join(work, "eventlog")))
    self_time = tracer.self_times()
    tot = spans.total(groups, {s.name for s in tracer.spans if _under(s, "run")})
    metrics.update({
        "spark.jobs": (tot.jobs, "count"),
        "spark.stages": (tot.stages, "count"),
        "spark.tasks": (tot.tasks, "count"),
        "spark.executor_s": (tot.executor_ms / 1000, "s"),
        "spark.busy_ratio": (tot.executor_ms / 1000 / (run_s * _cpus()), "ratio"),
        "spark.shuffle_write_bytes": (tot.shuffle_write_bytes, "bytes"),
        "spark.spill_bytes": (tot.spill_bytes, "bytes"),
    })
    metrics.update(wl.layer_metrics(self_time, groups))
    spec = per_layer_spec()
    for name, (unit, _better) in spec.items():
        metrics.setdefault(name, (0, unit))
    extra = set(metrics) - set(spec)
    if extra:
        raise RuntimeError(f"per-layer metrics missing from the spec: {sorted(extra)}")
    return {name: metrics[name] for name in spec}


def _under(span, root: str) -> bool:
    while span is not None:
        if span.name == root:
            return True
        span = span.parent
    return False


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "kwwhat_spark")):
        print("perfbench: run from the root of a kwh-spark checkout "
              "(no kwwhat_spark/ here)", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {list(WORKLOADS)}", file=sys.stderr)
        return 2
    # Import the benchmark as a package from the checkout root, not its
    # modules from the script directory, where they could shadow others.
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    args.trace = bool(args.trace)
    # On SIGTERM, unwind like an exception: stop the JVM, remove the work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = run(args, root)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
