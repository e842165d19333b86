"""Model DAG framework — the Spark equivalent of the reference's dbt
manifest (SURVEY §3.1).

A *model* is a named function ``(Pipeline) -> DataFrame``. ``Pipeline``
resolves ``ref()`` edges lazily with caching, so executing any mart pulls
exactly its upstream subgraph — the topological order is implicit, like
dbt's manifest DAG. Full-refresh semantics (every reference model's
``is_incremental()=false`` branch); the incremental batch runner layers
on top (kwwhat_spark/plans/incremental.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.config import VARS, PipelineVars
from kwwhat_spark.operators.cachescope import release

MODELS: dict[str, Callable[["Pipeline"], DataFrame]] = {}

# Reference materializations (dbt_project.yml:38-42 + per-model configs):
# views stay lazy, everything else is materialised on first resolution as
# an in-memory table whose lineage is cut (see Pipeline.ref).
VIEW_MODELS = {
    "stg_ocpp_logs",
    "stg_chargers",
    "stg_ports",
    "stg_connectors",
    "fact_uptime",
    "fact_charger_commissioned_daily",
}


def model(name: str):
    def deco(fn: Callable[["Pipeline"], DataFrame]):
        MODELS[name] = fn
        return fn

    return deco


@dataclass
class Pipeline:
    """Execution context: sources + lazy model resolution.

    sources must provide: raw_ocpp_logs, raw_chargers, raw_ports,
    raw_connectors (schemas in FIXTURES.md §1).
    """

    spark: SparkSession
    sources: dict[str, DataFrame]
    vars: PipelineVars = field(default_factory=lambda: VARS)
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    # Models whose cached value should be replaced by a mock (unit tests
    # inject upstream fixtures exactly like dbt unit tests do).
    overrides: dict[str, DataFrame] = field(default_factory=dict)
    # Incremental mode: prior state per model ("{{ this }}"). A model runs
    # its is_incremental() branch iff its name is present here.
    this_dfs: dict[str, DataFrame] = field(default_factory=dict)
    # View models to materialise anyway. The staged log view is consumed
    # by ~20 downstream models; materialising it trades per-consumer scan
    # pruning for reuse — a 38% full-build win on the demo seed, and the
    # single-node analogue of materializing staging to Delta. Off by
    # default (pure-lazy views, maximal pushdown).
    cache_views: tuple[str, ...] = ()

    def is_incremental(self, name: str) -> bool:
        return name in self.this_dfs

    def this(self, name: str) -> DataFrame:
        return self.this_dfs[name]

    def incremental_window(
        self, name: str, buffer_minutes: int = 0
    ) -> tuple[object, object, object]:
        """Incremental batch window: from = max(incremental_ts of target),
        to = from + 3 months, buffer_from = from - buffer
        (macros/incremental_date_range.sql, is_incremental() path)."""
        import datetime as dt

        from_ts = self.scalar_max(self.this(name), "incremental_ts")
        if from_ts is None:
            from_ts = dt.datetime.fromisoformat(self.vars.start_processing_date)
        import calendar

        month = from_ts.month - 1 + self.vars.incremental_window_months
        year = from_ts.year + month // 12
        month = month % 12 + 1
        day = min(from_ts.day, calendar.monthrange(year, month)[1])
        to_ts = from_ts.replace(year=year, month=month, day=day)
        buffer_from = from_ts - dt.timedelta(minutes=buffer_minutes)
        return from_ts, buffer_from, to_ts

    def source(self, name: str) -> DataFrame:
        return self.sources[name]

    def ref(self, name: str) -> DataFrame:
        if name in self.overrides:
            return self.overrides[name]
        if name not in self._cache:
            df = MODELS[name](self)
            # Non-view models are materialised like dbt tables: an eager
            # localCheckpoint, so downstream models, checks and chat-BI
            # read a LogicalRDD leaf, not the model's plan. persist() kept
            # every upstream plan nested inside each InMemoryRelation, and
            # Spark re-described those nested plans on every SQL
            # execution and AQE re-plan. On a 3-charger, 14-day fleet (4
            # vCPUs) the cut took the quality checks from 10–12 s to
            # 2.6 s, chat-BI's queries from 6–7 s to 2.0 s and the whole
            # build from 48 s to 29 s (medians). The trade-off: the
            # blocks cannot be recomputed, so a lost executor fails the
            # consumer with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND and the
            # build reruns from its sources. The reference's views
            # (stg_*, fact_uptime, fact_charger_commissioned_daily) stay
            # lazy and collapse into their consumers.
            if name not in VIEW_MODELS or name in self.cache_views:
                df = df.localCheckpoint(eager=True)
            self._cache[name] = df
        return self._cache[name]

    def unpersist_all(self) -> None:
        """Free every model this Pipeline materialised. Overrides are the
        caller's and stay."""
        for df in self._cache.values():
            try:
                release(df)
            except Exception:  # session already stopped — nothing to free
                pass
        self._cache.clear()

    # ------------------------------------------------------------------
    # Batch-window computation (macros/incremental_date_range.sql).
    # Full-refresh path: from = greatest(*caps), to = from + 3 months,
    # buffer_from = from - buffer_minutes. Computed on the driver so the
    # window filter is a literal predicate Catalyst can push into the scan
    # (SURVEY §4: cleaner than scalar subqueries).
    # ------------------------------------------------------------------
    def full_refresh_window(
        self,
        extra_from_caps: list[DataFrame | object] = (),
        buffer_minutes: int = 0,
    ) -> tuple[object, object, object]:
        import datetime as dt

        caps = [dt.datetime.fromisoformat(self.vars.start_processing_date)]
        for cap in extra_from_caps:
            if cap is not None:
                caps.append(cap)
        from_ts = max(caps)
        # dateadd(month, 3): calendar month arithmetic, like dbt.dateadd.
        month = from_ts.month - 1 + self.vars.incremental_window_months
        year = from_ts.year + month // 12
        month = month % 12 + 1
        import calendar

        day = min(from_ts.day, calendar.monthrange(year, month)[1])
        to_ts = from_ts.replace(year=year, month=month, day=day)
        buffer_from = from_ts - dt.timedelta(minutes=buffer_minutes)
        return from_ts, buffer_from, to_ts

    # Driver-side scalars are memoized per Pipeline by DataFrame
    # IDENTITY: incremental models re-derive the same watermark over the
    # same shared DataFrame object several times per batch (a merged
    # state table feeds both its consumer's cap and its own window; the
    # staged view feeds every model), and each repeat was a full Spark
    # job. Identity — not plan equality — is the sound key: two reads of
    # the same state path before and after a merge are semantically
    # identical plans over DIFFERENT data. The memo holds a strong
    # reference to the DataFrame so a dead object's id can never be
    # recycled into a false hit.
    #
    # OBJECT-IDENTITY CONTRACT (callers must honor it): a scalar read
    # over mutated storage must go through a NEW DataFrame object — the
    # incremental stores do this (every merge re-reads state into a
    # fresh read()), so staleness cannot occur there. Any future code
    # that holds ONE DataFrame object across a write to its underlying
    # path must call invalidate_scalars() after the write, or it reads
    # the pre-write watermark forever. Long-lived Pipelines should also
    # call it periodically: the strong references pin DataFrames (and
    # their cached plans) for the Pipeline's lifetime.
    def invalidate_scalars(self) -> None:
        """Drop all memoized driver scalars (and the DataFrame pins that
        key them). Call after writing beneath a DataFrame object you
        intend to re-query, or to bound memory on a long-lived Pipeline."""
        if hasattr(self, "_scalar_cache"):
            self._scalar_cache.clear()

    def _scalar_memo(self, df: DataFrame, col: str, kind: str, expr):
        if not hasattr(self, "_scalar_cache"):
            self._scalar_cache: dict = {}
        key = (id(df), col, kind)
        if key not in self._scalar_cache:
            row = df.agg(expr(col).alias("v")).first()
            self._scalar_cache[key] = (df, row["v"] if row else None)
        return self._scalar_cache[key][1]

    def scalar(self, df: DataFrame, col: str):
        """Memoized driver-side MIN(col). Keyed by DataFrame identity —
        see the object-identity contract on _scalar_memo / use
        invalidate_scalars() after writing beneath a reused object."""
        return self._scalar_memo(df, col, "min", F.min)

    def scalar_max(self, df: DataFrame, col: str):
        """Memoized driver-side MAX(col). Same identity contract as
        scalar()."""
        return self._scalar_memo(df, col, "max", F.max)


def run_model(pipeline: Pipeline, name: str) -> DataFrame:
    return pipeline.ref(name)
