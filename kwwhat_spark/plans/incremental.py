"""Incremental batch runner — the reference's per-batch lifecycle
(SURVEY §3.2): window computation → windowed scan → buffer re-read →
transform → MERGE upsert on the model's unique key.

State store: ParquetStateStore, whose per-name layout follows the
name's cluster column (date partitions merged by dynamic partition
overwrite, or versioned directories rewritten whole). Both layouts
merge with one key replace (_replace), left_anti(old, new) ∪ new — what
a warehouse MERGE whenMatched-update/whenNotMatched-insert produces for
full-row updates. Cluster-scale notes: each version write is a new
directory (no in-place mutation → safe concurrent readers); the
anti-join shuffles only on the unique key, and AQE handles key skew.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kwwhat_spark.models.base import CLUSTER_BY, MODELS, UNIQUE_KEYS, Pipeline
from kwwhat_spark.operators.cachescope import checkpoint_rdd, keep, scope
from kwwhat_spark.sinks import DATE_COL, with_date

# Execution order for a batch: the incremental models (those @model
# gives a unique_key) in registration order, which puts each after every
# incremental model it reads.
INCREMENTAL_ORDER = [m for m in MODELS if m in UNIQUE_KEYS]


def _has_part_files(path: str) -> bool:
    """True if any parquet part file exists under `path` (recursing into
    partition subdirs). An empty-state write leaves only _SUCCESS and
    bare partition dirs; a directory that HAS part files but fails to
    read is corrupted and must fail loudly — silently replacing it with
    an empty DataFrame would let the next merge rebuild state from the
    current batch alone (masked data loss)."""
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") and not f.startswith((".", "_")) for f in files):
            return True
    return False


_NEW = "__new_"


def _replace(prior: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """The key replace of a MERGE: ``prior`` rows that no ``new`` row
    replaces, then every ``new`` row, in ``prior``'s columns.

    A row whose key columns are all set is replaced by the new row with
    that key (plain ``=``). A key with a null column identifies no row:
    orphan charge attempts, for one, share (charger, connector, null
    start), and full refresh keeps every one of them. So such a row is
    replaced only by an identical new row (``<=>`` on every column),
    which makes a redelivered batch idempotent without collapsing
    distinct rows."""
    cols = prior.columns
    keep = prior.join(new.select(*keys).distinct(), keys, "left_anti")
    null_key = reduce(or_, [F.col(k).isNull() for k in keys])
    same = new.filter(null_key).select(*[F.col(c).alias(_NEW + c) for c in cols]).distinct()
    on = reduce(and_, [F.col(c).eqNullSafe(F.col(_NEW + c)) for c in cols])
    return keep.join(same, on, "left_anti").unionByName(new.select(*cols))


class ParquetStateStore:
    """Parquet model state under state_dir/<name>/, in the layout the
    name's cluster column picks:

    - **Clustered** (the name has a ``cluster_by`` column): ONE directory,
      ``partitioned/``, partitioned by ``_date`` of that column — the
      marts' layout (sinks.with_date). merge rewrites ONLY the date
      partitions the batch touches (dynamic partition overwrite):
      dbt-spark's ``insert_overwrite`` strategy on plain parquet, so batch
      cost follows the batch's date span, not the table size — the
      property that makes the reference's 3-month windows viable at
      100 TB. ``_partitioned.json`` records the schema and batch_id,
      written after the data (weaker atomicity than the pointer swap: a
      crash in between replays the batch against already-merged
      partitions, which dynamic overwrite makes idempotent).
    - **Versioned** (every other name: snapshot/entity models, the
      corpus/dedup indexes, merge_sink targets): each write is a new
      ``v<N>/`` directory, swapped in by the atomic ``_latest.json``
      pointer that also records the schema and batch_id; merge is a full
      left_anti(old, new) ∪ new rewrite, O(table) per batch.

    Correctness precondition of the clustered layout: the cluster column
    is one of the unique-key columns (@model enforces it), so a merged
    row lands in the partition of the row it replaces and no stale copy
    survives in an untouched partition.

    Reference parity: `cluster_by` ts per model (int_status_changes.sql:6
    and siblings) — the same column choices, promoted from a clustering
    hint to physical partitioning. On Delta/Iceberg the clustered layout
    maps to MERGE with partition predicates (or replaceWhere).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 cluster_by: dict[str, str] | None = None):
        """``cluster_by``: name -> cluster column; by default each
        incremental model's ``cluster_by``. Other names are versioned."""
        self.spark = spark
        self.state_dir = state_dir
        self.cluster_by = cluster_by if cluster_by is not None else {
            m: CLUSTER_BY[m] for m in INCREMENTAL_ORDER if m in CLUSTER_BY}
        os.makedirs(state_dir, exist_ok=True)

    def _pointer(self, name: str) -> str:
        return os.path.join(self.state_dir, name, "_latest.json")

    def _meta_path(self, name: str) -> str:
        if name in self.cluster_by:
            return os.path.join(self.state_dir, name, "_partitioned.json")
        return self._pointer(name)

    def _meta(self, name: str) -> dict | None:
        """The name's metadata record, or None before its first write.
        Clustered state the record does not describe refuses — a
        versioned pointer left on disk (state written while the name had
        no cluster column), or partition data without a record (an
        interrupted first write, or an older `_part=` layout): silently
        ignoring it would restart the incremental state from empty."""
        path = self._meta_path(name)
        if name in self.cluster_by and os.path.exists(self._pointer(name)):
            raise RuntimeError(
                f"state for '{name}' exists in the versioned layout "
                f"({self._pointer(name)}) but '{name}' is clustered by "
                f"'{self.cluster_by[name]}'; migrate it (read the versioned "
                "state, write() it through a store that clusters it, delete "
                "the v*/ dirs and _latest.json)"
            )
        if os.path.exists(path):
            return json.load(open(path))
        if name in self.cluster_by and os.path.exists(self._data_path(name)):
            raise RuntimeError(
                f"state for '{name}' has partition data ({self._data_path(name)}) "
                f"but no {path}; delete the directory or rebuild it"
            )
        return None

    def _data_path(self, name: str, version: int | None = None) -> str:
        sub = "partitioned" if name in self.cluster_by else f"v{version}"
        return os.path.join(self.state_dir, name, sub)

    def _record(self, name: str, meta: dict) -> None:
        """Write the metadata record, after the data: in the versioned
        layout this is the atomic pointer swap."""
        with open(self._meta_path(name), "w") as f:
            json.dump(meta, f)

    def read(self, name: str) -> DataFrame | None:
        meta = self._meta(name)
        if meta is None:
            return None
        df = self._scan(self._data_path(name, meta.get("version")))
        if df is None:  # rebuilt from the schema recorded at write time
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(meta["schema"])))
        return df.drop(DATE_COL) if name in self.cluster_by else df

    def _scan(self, path: str) -> DataFrame | None:
        """The state parquet under ``path``, or None for an EMPTY state:
        it wrote no part files (only _SUCCESS), so schema inference
        fails, and the caller stands in an empty state instead of
        flipping the model back to full-refresh. Only that layout is
        recoverable; a read error on a directory that has part files is
        corrupted state and propagates (see _has_part_files)."""
        try:
            return self.spark.read.parquet(path)
        except Exception:
            if _has_part_files(path):
                raise
            return None

    def last_batch_id(self, name: str) -> int | None:
        """Stream-commit marker: the batch_id passed to the most recent
        write/merge, or None. In the versioned layout the pointer swap is
        a single JSON write, so (state version, batch_id) change
        atomically — a foreachBatch that writes its output BEFORE merging
        with a batch_id can skip fully-committed replays and recompute
        partially committed ones against the unswapped prior state."""
        meta = self._meta(name)
        return None if meta is None else meta.get("batch_id")

    def write(self, name: str, df: DataFrame, *, batch_id: int | None = None) -> None:
        meta = {"batch_id": batch_id, "schema": json.dumps(df.schema.jsonValue())}
        prior = self._meta(name)  # refuses state this layout does not describe
        if name in self.cluster_by:
            (
                with_date(df, self.cluster_by[name])
                .write.mode("overwrite")
                .partitionBy(DATE_COL)
                .parquet(self._data_path(name))
            )
            self._record(name, meta)
            return
        version = 0 if prior is None else prior["version"] + 1
        df.write.mode("overwrite").parquet(self._data_path(name, version))
        self._record(name, {"version": version, **meta})
        # Retire old versions (keep previous for debugging).
        for old in range(version - 1):
            shutil.rmtree(self._data_path(name, old), ignore_errors=True)

    def _evolve(self, name: str, existing: DataFrame, new: DataFrame) -> DataFrame:
        """Schema evolution on merge (the state-store analog of the
        reference's warehouse migration discipline, migrations/
        001_split_ports.sql): ADDITIVE columns evolve automatically —
        prior state gets typed NULLs, like Delta mergeSchema — because
        silently dropping a model's new column (the old
        `new.select(*existing.columns)`) corrupts every later batch.
        REMOVED columns refuse with a pointer to migrate(): dropping
        data is a phase-staged, human-approved operation in the
        reference and stays one here."""
        removed = [c for c in existing.columns if c not in new.columns]
        if removed:
            raise RuntimeError(
                f"model '{name}' no longer produces stored column(s) "
                f"{removed}; dropping state columns is a migration — run "
                "store.migrate(name, lambda df: df.drop(...)) explicitly, "
                "then re-run the batch"
            )
        added = [f for f in new.schema.fields if f.name not in existing.columns]
        if added:
            existing = existing.select(
                "*",
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in added],
            )
        return existing

    def migrate(self, name: str, transform) -> None:
        """State migration: read the current state, apply
        `transform(df) -> df` and write the result back. In the versioned
        layout it is a NEW version and the previous version directory
        stays on disk for rollback, mirroring the reference's
        phase-staged migration (create new → validate → swap → drop only
        after sign-off)."""
        cur = self.read(name)
        if cur is None:
            raise RuntimeError(f"no state for '{name}' to migrate")
        # Materialize before writing: the clustered layout overwrites
        # the same directory the lazy plan would still be scanning.
        with scope():
            out = keep(transform(cur).localCheckpoint(eager=True))
            self.write(name, out, batch_id=self.last_batch_id(name))

    def merge(self, name: str, new: DataFrame, keys: list[str], *,
              batch_id: int | None = None) -> None:
        """MERGE semantics: rows in `new` replace state rows with the same
        key; all other state rows are kept. Additive schema changes
        evolve the stored state (see _evolve).

        Keys match as in _replace. dbt's own merge compares keys with
        plain ``=``, so it stores a re-merged row with a null key column
        twice; a null-safe ``t.k <=> s.k`` merge would instead let each
        batch's orphan charge attempts replace the earlier ones, which
        full refresh keeps. Here a null-key row is replaced only by an
        identical row."""
        existing = self.read(name)
        if existing is None:
            self.write(name, new, batch_id=batch_id)
            return
        with scope():
            # Materialize the batch once: the anti-join's key-distinct,
            # the partition collect and the write would otherwise each
            # run the full model plan. IncrementalRunner passes a model's
            # checkpoint already; streaming merge_sink passes a lazy plan.
            if checkpoint_rdd(new) is None:
                new = keep(new.localCheckpoint(eager=True))
            clustered = name in self.cluster_by
            if clustered and set(new.columns) == set(existing.columns):
                self._merge_partitions(name, new.select(*existing.columns), keys, batch_id)
                return
            # Full rewrite: every versioned merge, and a clustered one
            # whose schema changed — partition directories cannot mix
            # schemas (untouched partitions would keep the old footer),
            # so an additive evolution rewrites the table once, the same
            # cost as a warehouse ALTER TABLE + backfill.
            merged = _replace(self._evolve(name, existing, new), new, keys)
            if clustered:  # the write replaces the directory `existing` scans
                merged = keep(merged.localCheckpoint(eager=True))
            self.write(name, merged, batch_id=batch_id)

    def _merge_partitions(self, name: str, new: DataFrame, keys: list[str],
                          batch_id: int | None) -> None:
        """Clustered merge: replace the date partitions ``new`` touches
        with their merged rows; every other partition keeps its files.
        ``new`` reads a checkpoint (``merge`` sees to it), so the
        partition collect, the anti-join and the write each read the
        batch's blocks, not its model plan."""
        newp = with_date(new, self.cluster_by[name])
        # The batch's partition set: tiny (batch window + buffer dates),
        # driver-safe to collect, and the ONLY state the merge reads.
        affected = [r[DATE_COL] for r in newp.select(DATE_COL).distinct().collect()]
        if not affected:
            return  # empty batch: no partitions touched, state unchanged
        non_null = [p for p in affected if p is not None]
        pred = F.col(DATE_COL).isin(non_null)
        if len(non_null) < len(affected):
            pred = pred | F.col(DATE_COL).isNull()
        path = self._data_path(name)
        prior = self._scan(path)
        out = newp if prior is None else _replace(prior.filter(pred), newp, keys)
        (
            # Single write pass, no intermediate checkpoint: the batch
            # side is already materialized, and the prior-state side is
            # fully read by the write job's tasks BEFORE the
            # dynamic-overwrite commit replaces any partition files.
            # One task per date partition (dbt-spark insert_overwrite
            # shape): without the repartition every upstream task
            # writes a sliver into every partition dir — task_count ×
            # partition_count small files that every later read(name)
            # must list and footer-parse. The mart sinks keep their
            # own policy (sort within each date).
            out.repartition(DATE_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DATE_COL)
            .parquet(path)
        )
        self._record(name, {**self._meta(name), "batch_id": batch_id})


class IncrementalRunner:
    """Executes incremental batches over a mutable source set."""

    def __init__(self, spark: SparkSession, store: ParquetStateStore, vars=None):
        from kwwhat_spark.config import VARS

        self.spark = spark
        self.store = store
        self.vars = vars or VARS

    def run_batch(
        self,
        sources: dict[str, DataFrame],
        models: list[str] | None = None,
        overrides: dict[str, DataFrame] | None = None,
    ) -> None:
        """``overrides`` seeds precomputed upstream models (dbt-mock
        style): a caller that already holds e.g. a checkpointed staged
        view for this batch's source slice passes it here instead of
        paying the staging parse again per batch."""
        models = models or INCREMENTAL_ORDER
        this_dfs = {}
        for name in models:
            prior = self.store.read(name)
            if prior is not None:
                this_dfs[name] = prior
        # Outputs are durable in the state store, so the batch's
        # materialised models live in one scope that closes with it.
        with scope():
            pipe = Pipeline(
                spark=self.spark,
                sources=sources,
                vars=self.vars,
                this_dfs=this_dfs,
                overrides=dict(overrides or {}),
                cache_views=("stg_ocpp_logs",),
            )
            # One model at a time on purpose: a later model must read the
            # merged state of an earlier one, so overrides change between
            # these top-level calls only. Within a call, model bodies still
            # build their unbuilt upstream concurrently (Pipeline.refs).
            for name in models:
                self.store.merge(name, pipe.ref(name), UNIQUE_KEYS[name])
                # dbt semantics: downstream ref() of an incremental model
                # sees the MERGED table, not just this batch's output rows.
                pipe.overrides[name] = self.store.read(name)

    def table(self, name: str) -> DataFrame:
        df = self.store.read(name)
        assert df is not None, f"no state for {name}"
        return df
