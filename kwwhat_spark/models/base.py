"""Model DAG framework — the Spark equivalent of the reference's dbt
manifest (SURVEY §3.1).

A *model* is a named function ``(Pipeline) -> DataFrame``. ``Pipeline``
resolves ``ref()`` edges on demand and remembers each result, so
building a mart builds exactly its upstream subgraph. A model body
names every model it reads up front in one ``p.refs(...)`` call, which
builds the unbuilt ones concurrently: branches that share no data
(the status, transaction and hardware chains) overlap the way dbt runs
independent nodes across its threads, and the DAG's width is the only
bound on how many run at once. Full-refresh semantics (every reference
model's ``is_incremental()=false`` branch); the incremental batch
runner layers on top (kwwhat_spark/plans/incremental.py).

A model body reaches its incremental behaviour through two hooks:
``window`` gives its batch window, and ``merge_prior`` folds the prior
state (``{{ this }}``) into its batch under per-column rules. Both are
the full-refresh behaviour when the model has no prior state.

The contract that makes concurrent builds the same build as a
sequential one:

- A model function depends only on pipeline state (sources, vars,
  overrides, prior state), never on which other models happen to be
  built already or in which order.
- Each model is built at most once per Pipeline: a second request,
  from any thread, waits for the first build and gets its result. A
  build that raises reaches every waiter and is not remembered, so the
  next request builds again.
- ``overrides`` (and ``this_dfs``) change only between top-level calls,
  never while a build is running. The incremental runner relies on
  this: it overrides each merged model before it asks for the next.

Each materialised model is kept in the cache scope open where it was
built (``operators/cachescope``), which frees it when that scope
closes; overrides stay the caller's. A Pipeline must not be used after
the scope it built in has closed: its remembered models would read
freed blocks. With no scope open, the caller owns the checkpoints.
"""

from __future__ import annotations

import calendar
import datetime as dt
import threading
from collections.abc import Callable, Iterable
from concurrent.futures import Future
from dataclasses import dataclass, field
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.config import VARS, PipelineVars
from kwwhat_spark.functions.core import array_union_sorted
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.threads import run_all

MODELS: dict[str, Callable[["Pipeline"], DataFrame]] = {}

# Per-model config, filled only by @model (the reference's per-model
# dbt config() block and dbt_project.yml:38-42 materializations):
# - VIEW_MODELS: views stay lazy; everything else is materialised on
#   first resolution as an in-memory table whose lineage is cut (see
#   Pipeline._build).
# - UNIQUE_KEYS: the merge key of each incremental model; a model with
#   one is an incremental model (kwwhat_spark/plans/incremental.py).
# - CLUSTER_BY: the timestamp/date column the model is clustered by; the
#   state store and the mart sinks partition by its date.
VIEW_MODELS: set[str] = set()
UNIQUE_KEYS: dict[str, list[str]] = {}
CLUSTER_BY: dict[str, str] = {}

# Pipeline.merge_prior's column rules over (batch value, prior value),
# and its paired rules over those plus the batch and prior values of a
# second column (a count, or the timestamp that orders the values).
_RULES: dict[str, Callable[[Column, Column], Column]] = {
    "batch": F.coalesce,
    "prior": lambda b, p: F.coalesce(p, b),
    "union": array_union_sorted,
    "least": F.least,
    "greatest": F.greatest,
}
_PAIRED: dict[str, Callable[[Column, Column, Column, Column], Column]] = {
    "mean": lambda b, p, n, pn: F.when(p.isNull(), b).otherwise((b * n + p * pn) / (n + pn)),
    "first": lambda b, p, t, pt: F.when(pt.isNull() | (t <= pt), b).otherwise(p),
    "last": lambda b, p, t, pt: F.when(pt.isNull() | (t >= pt), b).otherwise(p),
}
_PRIOR = "__prior_"


def model(name: str, view: bool = False, unique_key: list[str] | None = None,
          cluster_by: str | None = None):
    """Register ``fn`` as model ``name`` with its config. Registration
    order is the incremental batch order, so an incremental model is
    declared after every incremental model it reads.

    An incremental model's ``cluster_by`` must be one of its
    ``unique_key`` columns: the state store derives a row's date
    partition from it, and a merged row must land in the partition of
    the row it replaces."""
    if unique_key is not None and cluster_by is not None and cluster_by not in unique_key:
        raise ValueError(f"model {name!r}: cluster_by {cluster_by!r} is not one of "
                         f"its unique_key columns {unique_key}")

    def deco(fn: Callable[["Pipeline"], DataFrame]):
        MODELS[name] = fn
        if view:
            VIEW_MODELS.add(name)
        if unique_key is not None:
            UNIQUE_KEYS[name] = unique_key
        if cluster_by is not None:
            CLUSTER_BY[name] = cluster_by
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
    # Builds and driver scalars in flight or done, one Future per key
    # (see _once); _cache above keeps only the finished models.
    _builds: dict[str, Future] = field(default_factory=dict, init=False, repr=False)
    _scalar_cache: dict[tuple, Future] = field(default_factory=dict, init=False, repr=False)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False)
    # Per thread: the Future refs reserved for the build it runs there.
    _claim: threading.local = field(
        default_factory=threading.local, init=False, repr=False, compare=False)

    def is_incremental(self, name: str) -> bool:
        return name in self.this_dfs

    def this(self, name: str) -> DataFrame:
        return self.this_dfs[name]

    def window(
        self,
        name: str,
        buffer_minutes: int = 0,
        from_caps: Iterable[tuple[DataFrame, str]] = (),
        to_caps: Iterable[tuple[DataFrame, str]] = (),
    ) -> tuple[dt.datetime, dt.datetime, dt.datetime]:
        """Model ``name``'s batch window ``(from_ts, buffer_from, to_ts)``
        (macros/incremental_date_range.sql), every model's one source of
        it. Computed on the driver, so the window filter is a literal
        predicate Catalyst can push into the scan (SURVEY §4).

        - from: in an incremental batch, the prior state's max
          ``incremental_ts`` (``start_processing_date`` if it has none);
          in a full refresh, the greatest of ``start_processing_date``
          and ``scalar(df, col)`` for each ``from_caps`` pair. From-caps
          are evaluated only in a full refresh.
        - to: from + ``incremental_window_months`` calendar months, the
          day clamped to the month's end like dbt.dateadd, then the
          least of that and ``scalar_max(df, col)`` for each ``to_caps``
          pair.
        - buffer_from: from - ``buffer_minutes``.

        Null caps are ignored.
        """
        start = dt.datetime.fromisoformat(self.vars.start_processing_date)
        if self.is_incremental(name):
            from_ts = self.scalar_max(self.this(name), "incremental_ts") or start
        else:
            from_ts = max([start] + _present(self.scalar(df, c) for df, c in from_caps))
        month = from_ts.month - 1 + self.vars.incremental_window_months
        year = from_ts.year + month // 12
        month = month % 12 + 1
        day = min(from_ts.day, calendar.monthrange(year, month)[1])
        to_ts = min([from_ts.replace(year=year, month=month, day=day)]
                    + _present(self.scalar_max(df, c) for df, c in to_caps))
        return from_ts, from_ts - dt.timedelta(minutes=buffer_minutes), to_ts

    def merge_prior(
        self,
        name: str,
        batch: DataFrame,
        keys: list[str],
        combine: dict[str, str | tuple[str, str]],
        prior_filter: Column | None = None,
    ) -> DataFrame:
        """Model ``name``'s batch merged with its prior state, the
        reference's incremental merge (SURVEY.md:167/:182): ``batch``
        left-joined to ``this(name)`` rows that pass ``prior_filter``,
        with plain ``==`` on each of ``keys`` (a null key never
        matches). In a full refresh it returns ``batch`` itself.

        The result has ``batch``'s columns in ``batch``'s order. Each
        column named in ``combine`` becomes its rule over the batch
        value ``b`` and the prior value ``p`` (null when unmatched);
        every other column keeps the batch value.

        - ``"batch"``: coalesce(b, p). ``"prior"``: coalesce(p, b).
        - ``"union"``: sorted, distinct, null-aware array union.
        - ``"least"`` / ``"greatest"``: null-skipping least / greatest.
        - ``("mean", count)``: the mean weighted by column ``count``,
          which becomes the summed count; b alone if p is null.
        - ``("first", ts)`` / ``("last", ts)``: b if the prior ``ts`` is
          null or the batch ``ts`` is ``<=`` / ``>=`` it, else p: the
          value seen first / last. A tie keeps b, a null batch ``ts``
          keeps p, and ``ts`` itself follows its own rule.
        """
        if not self.is_incremental(name):
            return batch
        paired = [r[1] for r in combine.values() if isinstance(r, tuple)]
        used = dict.fromkeys([*keys, *combine, *paired])
        prior = self.this(name)
        if prior_filter is not None:
            prior = prior.filter(prior_filter)
        prior = prior.select(*[F.col(c).alias(_PRIOR + c) for c in used])
        on = reduce(lambda a, b: a & b, [F.col(k) == F.col(_PRIOR + k) for k in keys])
        exprs = {}
        for c, rule in combine.items():
            b, p = F.col(c), F.col(_PRIOR + c)
            if isinstance(rule, tuple):
                kind, other = rule
                o, po = F.col(other), F.col(_PRIOR + other)
                exprs[c] = _PAIRED[kind](b, p, o, po)
                if kind == "mean":
                    exprs[other] = F.when(po.isNull(), o).otherwise(o + po)
            else:
                exprs[c] = _RULES[rule](b, p)
        return batch.join(prior, on, "left").select(
            *[exprs.get(c, F.col(c)).alias(c) for c in batch.columns])

    def source(self, name: str) -> DataFrame:
        return self.sources[name]

    def ref(self, name: str) -> DataFrame:
        """The model ``name``, built on first request.

        Thread-safe: concurrent requests for one model build it once,
        and the others wait for that build (see _once). Overrides win
        over building. Model bodies ask for what they read with
        ``refs`` instead: a plain ``ref`` of an unbuilt model builds it
        there and then, after whatever the body did before, so a second
        plain ``ref`` in the same body would build its branch serially.
        """
        if name in self.overrides:
            return self.overrides[name]
        df = self._cache.get(name)
        if df is None:
            df = self._once(self._builds, name, partial(self._build, name))
        return df

    def refs(self, *names: str) -> list[DataFrame]:
        """The models ``names``, in order, the unbuilt ones built
        concurrently: one thread per model not yet resolved, each going
        through ``ref`` (so a subclass's ``ref`` sees every build). Any
        build failure is re-raised here after the others finish. Asks
        for exactly the models named: nothing is prefetched, so the set
        built is the set a sequence of ``ref`` calls would build."""
        # Under one lock: a build already in flight is waited on, not
        # requested again, and each build this call starts is reserved
        # for the thread it starts, so no other request slips in between
        # and asks ref for it a second time.
        with self._lock:
            todo = [n for n in dict.fromkeys(names)
                    if n not in self.overrides and n not in self._cache]
            running = [self._builds[n] for n in todo if n in self._builds]
            reserved = {n: self._builds.setdefault(n, Future())
                        for n in todo if n not in self._builds}
        run_all([partial(self._reserved_ref, n, fut) for n, fut in reserved.items()])
        for fut in running:
            fut.result()
        return [self.ref(n) for n in names]

    def _reserved_ref(self, name: str, fut: Future) -> DataFrame:
        """``ref(name)`` as the owner of the Future ``refs`` reserved for
        it. A subclass's ``ref`` must reach ``Pipeline.ref`` for an
        unbuilt model; if it never does, the reservation is failed
        rather than left for waiters to hang on."""
        self._claim.fut = fut
        try:
            return self.ref(name)
        finally:
            self._claim.fut = None
            with self._lock:
                untaken = not (fut.running() or fut.done())
                if untaken and self._builds.get(name) is fut:
                    del self._builds[name]
            if untaken:
                fut.set_exception(RuntimeError(f"ref({name!r}) did not build the model"))

    def _build(self, name: str) -> DataFrame:
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
            df = keep(df.localCheckpoint(eager=True))
        self._cache[name] = df
        return df

    def _once(self, table: dict, key, build: Callable[[], object]):
        """``build()`` at most once per ``key`` of ``table`` across
        threads. The first caller builds; later callers wait on its
        Future. A failure reaches every waiter and leaves no entry, so
        it is never served as a result and the next call builds again.
        The lock is held only to find or place the Future, never
        during a build, so builds of different keys overlap."""
        with self._lock:
            fut = table.get(key)
            if fut is None:
                fut = table[key] = Future()
                owner = True
            else:
                # refs reserves a Future for the thread it starts.
                owner = fut is getattr(self._claim, "fut", None) and not (
                    fut.running() or fut.done())
            if owner:
                fut.set_running_or_notify_cancel()
        if owner:
            try:
                fut.set_result(build())
            except BaseException as e:
                with self._lock:
                    if table.get(key) is fut:
                        del table[key]
                fut.set_exception(e)
                raise
        return fut.result()

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
    # fresh read()), so staleness cannot occur there. Code that holds ONE
    # DataFrame object across a write to its underlying path reads the
    # pre-write watermark forever: re-read the path into a new object,
    # or use a new Pipeline. The strong references pin DataFrames (and
    # their cached plans) for the Pipeline's lifetime, so a Pipeline
    # lives for one build or one batch.
    def _scalar_memo(self, df: DataFrame, col: str, kind: str, expr):
        # Single-flight like ref: concurrent model bodies that ask for
        # the same watermark over a shared model run one job.
        def compute():
            row = df.agg(expr(col).alias("v")).first()
            return df, row["v"] if row else None

        return self._once(self._scalar_cache, (id(df), col, kind), compute)[1]

    def scalar(self, df: DataFrame, col: str):
        """Memoized driver-side MIN(col). Keyed by DataFrame identity —
        see the object-identity contract on _scalar_memo."""
        return self._scalar_memo(df, col, "min", F.min)

    def scalar_max(self, df: DataFrame, col: str):
        """Memoized driver-side MAX(col). Same identity contract as
        scalar()."""
        return self._scalar_memo(df, col, "max", F.max)


def _present(values: Iterable) -> list:
    return [v for v in values if v is not None]
