"""``ocpp_build``: the CLI's ``build`` plus ``check``, cut to the
charge-attempt marts, on a generated fleet.

Set-up generates the fleet's four CSVs from the seed and loads them
through ``load_ocpp_sources``. The timed pass counts the raw log;
resolves ``fact_charge_attempts``, ``fact_visits`` and every model
upstream of them (staging, the status, transaction and preparing
chains, the connector and charger dims), each materialised in
dependency order; writes the two marts through ``sinks.write_marts``;
runs the shipped ``quality`` checks declared on them; then serves them:
a chat-BI question per entity and per metric of the lexicon that these
marts answer, plus windowed, full-history and multi-metric forms, in a
seeded order through ``bi.route`` and ``bi.compile_query``; one
period-over-period question; and one ``query_metrics`` call over the
semantic metrics they carry. Outside the timed pass the two marts are
compared with the DuckDB compile of the same DAG, and the answers'
unwindowed counts with counts over it.

The rest of the DAG (outages, downtime, uptime, meter values, drivers)
and the questions that need it are left out, to keep a run, cold JVM
included, near a minute on four cores: every model costs a handful of
Spark stages whatever the row count.
"""

from __future__ import annotations

import os
import random

from kwwhat_spark import bi
from kwwhat_spark.metrics import METRICS, query_metrics
from kwwhat_spark.metrics.semantic import _base_measures, _measure_model
from kwwhat_spark.models.base import MODELS, VIEW_MODELS, Pipeline
from kwwhat_spark.quality import load_checks_yaml, run_checks
from kwwhat_spark.queries.ocpp_pipeline import mart_oracle_for_seed_dir, mart_projection
from kwwhat_spark.sinks import write_marts
from kwwhat_spark.sources.ocpp import load_ocpp_sources

from perfbench import fleet

# Small enough that generating it three times keeps set-up short; the
# build is bound by its stage count, not by rows, at this size.
CHARGERS = 3
# The charge-attempt marts; the pass builds them and everything upstream.
TARGETS = ("fact_charge_attempts", "fact_visits")
# The persisted models upstream of TARGETS, in MODELS order. The staged
# log is a view the build caches (cache_views), so it is materialised,
# and timed, as a model of its own. A run fails loudly if the DAG's
# upstream set drifts from this list.
TIMED_MODELS = [
    "stg_ocpp_logs", "int_chargers", "int_ports", "int_connectors",
    "dim_chargers", "dim_connectors", "int_status_changes",
    "int_connector_latest_status", "int_transactions",
    "int_connector_preparing", "fact_charge_attempts", "fact_visits",
]

# Chat-BI questions answer as of a fixed time inside the fleet's 14 days,
# so answers do not depend on the wall clock.
ANCHOR = "timestamp'2025-10-15 00:00:00'"


def questions() -> list[str]:
    """Each entity of the chat-BI lexicon and one phrase per metric
    (synonyms compile to the same query), then windowed, full-history
    and multi-metric forms; only those the pass's marts answer."""
    first_phrase: dict[str, str] = {}
    for phrase, key in bi._METRIC_PHRASES:
        first_phrase.setdefault(key, phrase)
    asked = [f"How many {e} are there?" for e in bi._ENTITIES]
    asked += [f"What is the {p}?" for p in first_phrase.values()]
    asked += [
        "What is the failed visit rate over the full history?",
        "What is the first attempt success rate in the last 14 days?",
        "What is the energy delivered in the past 2 weeks?",
        "First attempt success rate, troubled success rate and failed visit rate, last 30 days",
        "Failed charge attempt rate and energy transferred, all time",
    ]
    return [q for q in asked
            if {c.model for c in bi.route(q).columns} <= set(TIMED_MODELS)]


POP_QUESTION = "First attempt success rate and failed charge attempt rate, last 7 days"
# Semantic-layer metrics over the marts the pass builds.
METRIC_NAMES = [m for m in METRICS if {
    _measure_model(x).model for x in _base_measures(METRICS[m])} <= set(TIMED_MODELS)]


def model_layer(name: str) -> str:
    if name.startswith("stg_"):
        return "staging"
    if name.startswith("int_"):
        return "intermediate"
    return "marts"


class TracedPipeline(Pipeline):
    """Materialises each persisted model the first time it is resolved,
    inside a span of its own. Nested ``ref`` calls resolve upstream
    models first, so every model's self time covers only its own work
    and the order of materialisation is the dependency order."""

    tracer = None  # set by the workload before the first ref

    def ref(self, name: str):
        if name in self._cache or name in self.overrides:
            return super().ref(name)
        with self.tracer.span(f"models.{name}"):
            df = super().ref(name)
            if name not in VIEW_MODELS or name in self.cache_views:
                df.count()
        return df


class OcppBuild:
    name = "ocpp_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.seed_dir = os.path.join(ctx.work, "fleet")
        self.out_dir = os.path.join(ctx.work, "marts")
        self.inputs: dict = {}
        self.rows = 0
        self.checks = [c for c in load_checks_yaml() if c.model in TARGETS]
        self.pipe = None
        self.violations: list = []

    def setup(self) -> None:
        self.inputs = fleet.write_fleet(
            self.seed_dir, fleet.generate(self.ctx.seed, CHARGERS))
        self.sources = load_ocpp_sources(self.ctx.spark, self.seed_dir)

    def run(self) -> None:
        t = self.ctx.tracer
        with t.span("sources.scan"):
            self.rows = self.sources["raw_ocpp_logs"].count()
        self.ctx.ops += 1
        pipe = TracedPipeline(spark=self.ctx.spark, sources=self.sources,
                              cache_views=("stg_ocpp_logs",))
        pipe.tracer = t
        for name in TARGETS:
            pipe.ref(name)
        built = [m for m in MODELS if m in pipe._cache and (
            m not in VIEW_MODELS or m in pipe.cache_views)]
        if built != TIMED_MODELS:
            raise RuntimeError(f"upstream of {TARGETS} is {built}, not TIMED_MODELS")
        self.ctx.ops += len(built)
        with t.span("sinks.write"):
            write_marts(pipe, self.out_dir, list(TARGETS))
        self.ctx.ops += len(TARGETS)
        with t.span("quality.checks"):
            self.violations = run_checks(pipe.ref, self.checks)
        self.ctx.ops += 1
        self.pipe = pipe
        self._serve(pipe)

    def _serve(self, pipe) -> None:
        """The chat-BI questions in a seeded order, one client in a closed
        loop, then one semantic-metric query."""
        t = self.ctx.tracer
        asked = questions()
        random.Random(self.ctx.seed).shuffle(asked)
        self.answers = {}
        for q in asked:
            with t.span("bi.route"):
                bq = bi.route(q)
            with t.span("bi.compile"):
                df = bi.compile_query(pipe, bq, anchor=ANCHOR)
            with t.span("bi.exec"):
                self.answers[q] = df.collect()
            self.ctx.ops += 1
        with t.span("bi.compile"):
            df = bi.period_over_period(pipe, POP_QUESTION, anchor=ANCHOR)
        with t.span("bi.exec"):
            self.answers[POP_QUESTION] = df.collect()
        self.ctx.ops += 1
        with t.span("metrics.query"):
            self.metric_row = query_metrics(pipe, METRIC_NAMES).collect()[0]
        self.ctx.ops += 1

    def check(self) -> list[str]:
        """The source read back in full, and the two marts equal to the
        DuckDB compile of the DAG over the same CSVs."""
        import duckdb

        from tests.oracle_harness import compare

        problems = []
        self.ctx.ops += 1
        if self.rows != self.inputs["rows"]:
            problems.append(f"read {self.rows} log rows, generated {self.inputs['rows']}")
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        oracle = {m: mart_oracle_for_seed_dir(m, self.seed_dir) for m in TARGETS}
        for mart in TARGETS:
            self.ctx.ops += 1
            got = mart_projection(mart, self.pipe.ref(mart))
            diff = compare(got, con, oracle[mart])
            if diff:
                problems.append(f"{mart}: {diff[0][:300]}")
        # Chat-BI and metric answers: one row each, and the counts that
        # need no window equal the same counts over the DuckDB marts.
        self.ctx.ops += 1
        want = {
            "total_visits": f"select count(visit_id) from ({oracle['fact_visits']})",
            "total_charge_attempts":
                f"select count(charge_attempt_id) from ({oracle['fact_charge_attempts']})",
            "total_transactions":
                f"select count(transaction_id) from ({oracle['fact_charge_attempts']})",
        }
        want = {k: con.sql(sql).fetchone()[0] for k, sql in want.items()}
        for q, rows in self.answers.items():
            if q != POP_QUESTION and len(rows) != 1:
                problems.append(f"{q!r}: {len(rows)} rows")
            elif rows and (set(rows[0].asDict()) & set(want)):
                for k, v in rows[0].asDict().items():
                    if v != want.get(k, v):
                        problems.append(f"{q!r}: {k}={v}, DuckDB {want[k]}")
        if len(self.answers[POP_QUESTION]) != 2:
            problems.append(f"period over period: {self.answers[POP_QUESTION]}")
        visits = self.metric_row["total_visits"]
        if visits != want["total_visits"]:
            problems.append(f"query_metrics total_visits={visits}, DuckDB {want['total_visits']}")
        con.close()
        return problems

    def layer_metrics(self, self_time, groups) -> dict:
        m: dict[str, tuple[float, str]] = {
            "sources.scan_s": (self_time.get("sources.scan", 0.0), "s"),
            "sources.rows": (self.rows, "count"),
        }
        layers = {k: [0.0, 0, 0] for k in ("staging", "intermediate", "marts")}
        for name in TIMED_MODELS:
            g = groups.get(f"models.{name}")
            s = self_time.get(f"models.{name}", 0.0)
            stages = g.stages if g else 0
            m[f"models.{name}.s"] = (s, "s")
            m[f"models.{name}.stages"] = (stages, "count")
            acc = layers[model_layer(name)]
            acc[0] += s
            acc[1] += g.jobs if g else 0
            acc[2] += stages
        for layer, (s, jobs, stages) in layers.items():
            m[f"models.{layer}.s"] = (s, "s")
            m[f"models.{layer}.jobs"] = (jobs, "count")
            m[f"models.{layer}.stages"] = (stages, "count")
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(self.out_dir):
            for f in files:
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(root, f))
        m["sinks.write_s"] = (self_time.get("sinks.write", 0.0), "s")
        m["sinks.bytes_written"] = (nbytes, "bytes")
        m["sinks.files_written"] = (nfiles, "count")
        m["quality.checks_s"] = (self_time.get("quality.checks", 0.0), "s")
        m["quality.violations"] = (len(self.violations), "count")
        n_q = len(self.answers)
        bi_groups = [groups.get(f"bi.{k}") for k in ("route", "compile", "exec")]
        for k in ("route", "compile", "exec"):
            m[f"bi.{k}_s"] = (self_time.get(f"bi.{k}", 0.0), "s")
        m["bi.jobs_per_question"] = (sum(g.jobs for g in bi_groups if g) / n_q, "count")
        m["bi.stages_per_question"] = (sum(g.stages for g in bi_groups if g) / n_q, "count")
        g = groups.get("metrics.query")
        m["metrics.query_s"] = (self_time.get("metrics.query", 0.0), "s")
        m["metrics.stages_per_query"] = (g.stages if g else 0, "count")
        return m
