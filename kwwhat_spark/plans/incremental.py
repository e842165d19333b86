"""Incremental batch runner — the reference's per-batch lifecycle
(SURVEY §3.2): window computation → windowed scan → buffer re-read →
transform → MERGE upsert on the model's unique key.

State stores: versioned parquet directories (merge expressed as
left_anti(old, key) ∪ new — exactly what Delta's MERGE
whenMatched-update/whenNotMatched-insert produces for full-row updates),
a partition-scoped insert_overwrite variant, and DeltaStateStore — the
real `MERGE INTO` path, import-gated on delta-spark (absent in this
container; tests skip, the code runs wherever the package exists). The
runner contract is identical across all three. Cluster-scale notes: each
version write is a new directory (no in-place mutation → safe concurrent
readers); the anti-join shuffles only on the unique key, and AQE handles
key skew.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from kwwhat_spark.models.base import CLUSTER_BY, MODELS, UNIQUE_KEYS, Pipeline
from kwwhat_spark.operators.cachescope import release

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


class ParquetStateStore:
    """Versioned parquet state: state_dir/<model>/v<N>/ + _latest pointer."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _pointer(self, name: str) -> str:
        return os.path.join(self.state_dir, name, "_latest.json")

    def read(self, name: str) -> DataFrame | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        meta = json.load(open(ptr))
        path = os.path.join(self.state_dir, name, f"v{meta['version']}")
        return self._read_with_schema(path, meta.get("schema"))

    def _read_with_schema(self, path: str, schema_json: str | None) -> DataFrame:
        """Read state parquet; an EMPTY state writes no part files (only
        _SUCCESS), so schema inference fails — reconstruct the empty
        DataFrame from the schema recorded at write time instead of
        flipping the model back to full-refresh."""
        from pyspark.sql.types import StructType

        try:
            return self.spark.read.parquet(path)
        except Exception:
            # Only the documented empty-state layout (no part files) is
            # recoverable from the recorded schema; real read errors on a
            # directory that has data must propagate (see _has_part_files).
            if schema_json is None or _has_part_files(path):
                raise
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )

    def last_batch_id(self, name: str) -> int | None:
        """Stream-commit marker: the batch_id recorded by the most recent
        write/merge that passed one, or None. Because the pointer swap is
        a single JSON write, (state version, batch_id) change atomically —
        a foreachBatch that writes its output BEFORE merging with a
        batch_id can skip fully-committed replays and recompute partially
        committed ones against the unswapped prior state."""
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        return json.load(open(ptr)).get("batch_id")

    def write(self, name: str, df: DataFrame, *, batch_id: int | None = None) -> None:
        ptr = self._pointer(name)
        version = (json.load(open(ptr))["version"] + 1) if os.path.exists(ptr) else 0
        path = os.path.join(self.state_dir, name, f"v{version}")
        df.write.mode("overwrite").parquet(path)
        with open(ptr, "w") as f:
            json.dump(
                {"version": version, "batch_id": batch_id,
                 "schema": json.dumps(df.schema.jsonValue())},
                f,
            )
        # Retire old versions (keep previous for debugging).
        for old in range(version - 1):
            shutil.rmtree(os.path.join(self.state_dir, name, f"v{old}"), ignore_errors=True)

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
        from pyspark.sql import functions as F

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
        """Versioned state migration: read the current state, apply
        `transform(df) -> df`, write it as a NEW version — the previous
        version directory stays on disk for rollback, mirroring the
        reference's phase-staged migration (create new → validate →
        swap → drop only after sign-off)."""
        cur = self.read(name)
        if cur is None:
            raise RuntimeError(f"no state for '{name}' to migrate")
        # Materialize before writing: the partitioned layout overwrites
        # the same directory the lazy plan would still be scanning.
        out = transform(cur).localCheckpoint(eager=True)
        try:
            self.write(name, out, batch_id=self.last_batch_id(name))
        finally:
            release(out)

    def merge(self, name: str, new: DataFrame, keys: list[str], *,
              batch_id: int | None = None) -> None:
        """MERGE semantics: rows in `new` replace state rows with the same
        key; all other state rows are kept. Additive schema changes
        evolve the stored state (see _evolve)."""
        existing = self.read(name)
        if existing is None:
            self.write(name, new, batch_id=batch_id)
            return
        existing = self._evolve(name, existing, new)
        # Materialize the batch once: the anti-join's key-distinct and
        # the version write would otherwise each run the full model plan.
        new = new.localCheckpoint(eager=True)
        keep = existing.join(new.select(*keys).distinct(), keys, "left_anti")
        try:
            self.write(name, keep.unionByName(new.select(*existing.columns)),
                       batch_id=batch_id)
        finally:
            release(new)


class PartitionedStateStore(ParquetStateStore):
    """Scale variant of the state store: dbt-spark's `insert_overwrite`
    incremental strategy expressed on plain parquet. Each model with a
    cluster timestamp lives in ONE directory partitioned by a derived
    `_part` date; merge rewrites ONLY the partitions the batch touches
    (dynamic partition overwrite), so batch cost is proportional to the
    batch's date span, not the table size — the property that makes the
    reference's 3-month windows viable at 100 TB. ParquetStateStore's
    full anti-join ∪ rewrite is O(table) per batch.

    Correctness precondition: the partition expression is a function of
    the model's unique-key columns, so a merged row lands in the same
    partition as the row it replaces and no stale copy can survive in an
    untouched partition. The default expression is ``to_date`` of the
    model's ``cluster_by``, which @model requires to be a unique-key
    column. Models without a ``cluster_by`` (tiny snapshot/entity
    tables) fall back to the versioned full-rewrite store.

    Reference parity: `cluster_by` ts per model (int_status_changes.sql:6
    and siblings) — the same column choices, promoted from a clustering
    hint to physical partitioning. On Delta/Iceberg this store maps to
    MERGE with partition predicates (or replaceWhere).
    """

    def __init__(self, spark: SparkSession, state_dir: str, partition_exprs=None):
        """``partition_exprs``: model -> SQL expression deriving the
        partition date from key columns; by default ``to_date`` of each
        incremental model's ``cluster_by``."""
        super().__init__(spark, state_dir)
        self.partition_exprs = partition_exprs if partition_exprs is not None else {
            m: f"to_date({CLUSTER_BY[m]})" for m in INCREMENTAL_ORDER if m in CLUSTER_BY}

    def _part_path(self, name: str) -> str:
        return os.path.join(self.state_dir, name, "partitioned")

    def _check_no_versioned_state(self, name: str) -> None:
        """A model newly promoted to partitioned layout may have leftover
        versioned state from a ParquetStateStore run (e.g., the CLI rerun
        with --partitioned added). Silently ignoring it would restart the
        incremental state from empty; refuse instead and tell the
        operator how to migrate."""
        ptr = self._pointer(name)
        if os.path.exists(ptr):
            raise RuntimeError(
                f"state for '{name}' exists in the versioned layout "
                f"({ptr}) but '{name}' is configured as partitioned; "
                "migrate it (read the versioned state, write() it through "
                "this store, delete the v*/ dirs and _latest.json) or run "
                "without the partitioned config for this model"
            )

    def _schema_path(self, name: str) -> str:
        return os.path.join(self.state_dir, name, "_schema.json")

    def _record_schema(self, name: str, df: DataFrame) -> None:
        with open(self._schema_path(name), "w") as f:
            json.dump(df.schema.jsonValue(), f)

    def read(self, name: str) -> DataFrame | None:
        if name not in self.partition_exprs:
            return super().read(name)
        self._check_no_versioned_state(name)
        path = self._part_path(name)
        if not os.path.exists(path):
            return None
        schema_json = None
        if os.path.exists(self._schema_path(name)):
            schema_json = json.dumps(json.load(open(self._schema_path(name))))
        return self._read_with_schema(path, schema_json).drop("_part")

    def last_batch_id(self, name: str) -> int | None:
        if name not in self.partition_exprs:
            return super().last_batch_id(name)
        marker = os.path.join(self.state_dir, name, "_batch.json")
        if not os.path.exists(marker):
            return None
        return json.load(open(marker)).get("batch_id")

    def _record_batch(self, name: str, batch_id: int | None) -> None:
        # Sidecar marker for the partitioned layout (written after the
        # data; weaker atomicity than the versioned pointer swap — a
        # crash in between replays the batch against already-merged
        # partitions, which dynamic overwrite makes idempotent).
        if batch_id is None:
            return
        with open(os.path.join(self.state_dir, name, "_batch.json"), "w") as f:
            json.dump({"batch_id": batch_id}, f)

    def write(self, name: str, df: DataFrame, *, batch_id: int | None = None) -> None:
        if name not in self.partition_exprs:
            super().write(name, df, batch_id=batch_id)
            return
        self._check_no_versioned_state(name)
        from pyspark.sql import functions as F

        (
            df.withColumn("_part", F.expr(self.partition_exprs[name]))
            .write.mode("overwrite")
            .partitionBy("_part")
            .parquet(self._part_path(name))
        )
        self._record_schema(name, df)
        self._record_batch(name, batch_id)

    def merge(self, name: str, new: DataFrame, keys: list[str], *,
              batch_id: int | None = None) -> None:
        if name not in self.partition_exprs:
            super().merge(name, new, keys, batch_id=batch_id)
            return
        from pyspark.sql import functions as F

        existing = self.read(name)
        if existing is None:
            self.write(name, new, batch_id=batch_id)
            return
        if set(new.columns) != set(existing.columns):
            # Schema change: partition directories cannot mix schemas
            # (untouched partitions would keep the old footer), so an
            # additive evolution is a one-off FULL rewrite of the table
            # with typed NULLs backfilled — the same cost as a warehouse
            # ALTER TABLE + backfill. Removed columns raise in _evolve.
            evolved = self._evolve(name, existing, new)
            keep_all = evolved.join(new.select(*keys).distinct(), keys, "left_anti")
            merged = keep_all.unionByName(new.select(*evolved.columns))
            merged = merged.localCheckpoint(eager=True)
            try:
                self.write(name, merged, batch_id=batch_id)
            finally:
                release(merged)
            return
        # ONE materialization of the batch plan (VERDICT r8: the merge
        # previously ran it 2-3x — once for the affected-partition
        # collect, again inside the keep∪new checkpoint). Everything
        # downstream (partition collect, anti-join, write) reads this
        # in-memory checkpoint.
        newp = (
            new.select(*existing.columns)
            .withColumn("_part", F.expr(self.partition_exprs[name]))
            .localCheckpoint(eager=True)
        )
        try:
            self._overwrite_partitions(name, newp, keys, batch_id)
        finally:
            release(newp)

    def _overwrite_partitions(self, name: str, newp: DataFrame, keys: list[str],
                              batch_id: int | None) -> None:
        """Replace the partitions the checkpointed batch ``newp`` touches
        with their merged rows."""
        from pyspark.sql import functions as F

        path = self._part_path(name)
        # The batch's partition set: tiny (batch window + buffer dates),
        # driver-safe to collect, and the ONLY state the merge reads.
        affected = [r["_part"] for r in newp.select("_part").distinct().collect()]
        if not affected:
            return  # empty batch: no partitions touched, state unchanged
        non_null = [p for p in affected if p is not None]
        pred = F.col("_part").isin(non_null)
        if len(non_null) < len(affected):
            pred = pred | F.col("_part").isNull()
        try:
            prior_raw = self.spark.read.parquet(path)
        except Exception:
            if _has_part_files(path):
                raise  # corrupted state: fail loudly, don't rebuild from batch
            prior_raw = None  # empty prior state wrote no part files
        if prior_raw is None:
            out = newp
        else:
            keep = prior_raw.filter(pred).join(
                newp.select(*keys).distinct(), keys, "left_anti"
            )
            out = keep.unionByName(newp.select(*keep.columns))
        (
            # Single write pass, no intermediate checkpoint: the batch
            # side is already materialized above, and the prior-state
            # side is fully read by the write job's tasks BEFORE the
            # dynamic-overwrite commit replaces any partition files —
            # the read-while-overwriting hazard needed the batch plan
            # itself to re-read the directory, which the checkpoint
            # rules out. One task per date partition (dbt-spark
            # insert_overwrite shape): without the repartition every
            # upstream task writes a sliver into every partition dir —
            # task_count × partition_count small files that every later
            # read(name) must list and footer-parse.
            out.repartition("_part")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_part")
            .parquet(path)
        )
        self._record_batch(name, batch_id)


class DeltaStateStore:
    """Lakehouse-native state store: the documented collapse of both
    parquet stores into warehouse `MERGE INTO` (the reference's actual
    incremental contract — `incremental_strategy='merge'`,
    int_status_changes.sql:1-8; BASELINE.md "collapse into MERGE INTO on
    Delta/Iceberg").

    Same interface as ParquetStateStore (read / write / merge /
    last_batch_id), so IncrementalRunner and the streaming sinks take it
    unchanged. merge() is a single `whenMatchedUpdateAll /
    whenNotMatchedInsertAll` on the model's unique key with null-safe
    equality (<=>) — exactly the left_anti ∪ new the parquet stores
    express by hand, but executed as Delta's transactional row-level
    merge: partition pruning and data skipping come from the table
    layout instead of the PartitionedStateStore's explicit partition
    predicate.

    Requires the delta-spark package and a Delta-enabled session
    (spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension); the
    constructor raises ImportError where the package is absent (this
    container), and tests/test_incremental.py skips its parametrization
    accordingly — the code path is exercised wherever delta-spark is
    installed.
    """

    def __init__(self, spark: SparkSession, state_dir: str):
        from delta.tables import DeltaTable  # noqa: F401 — availability probe

        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _meta(self, name: str) -> str:
        return os.path.join(self.state_dir, f"{name}.batch.json")

    def read(self, name: str) -> DataFrame | None:
        path = self._path(name)
        if not os.path.exists(os.path.join(path, "_delta_log")):
            return None
        return self.spark.read.format("delta").load(path)

    def last_batch_id(self, name: str) -> int | None:
        meta = self._meta(name)
        if not os.path.exists(meta):
            return None
        return json.load(open(meta)).get("batch_id")

    def _record_batch(self, name: str, batch_id: int | None) -> None:
        with open(self._meta(name), "w") as f:
            json.dump({"batch_id": batch_id}, f)

    def write(self, name: str, df: DataFrame, *, batch_id: int | None = None) -> None:
        (
            df.write.format("delta")
            .mode("overwrite")
            .option("overwriteSchema", "true")
            .save(self._path(name))
        )
        self._record_batch(name, batch_id)

    def merge(self, name: str, new: DataFrame, keys: list[str], *,
              batch_id: int | None = None) -> None:
        from delta.tables import DeltaTable

        if self.read(name) is None:
            self.write(name, new, batch_id=batch_id)
            return
        target = DeltaTable.forPath(self.spark, self._path(name))
        # Null-safe key equality: several unique keys (port_id, phase)
        # are nullable in the reference schema.
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        (
            target.alias("t")
            .merge(new.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        self._record_batch(name, batch_id)


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
            out = pipe.ref(name)
            self.store.merge(name, out, UNIQUE_KEYS[name])
            # dbt semantics: downstream ref() of an incremental model sees
            # the MERGED table, not just this batch's output rows.
            pipe.overrides[name] = self.store.read(name)
        # Outputs are durable in the state store; drop the batch's caches.
        pipe.unpersist_all()

    def table(self, name: str) -> DataFrame:
        df = self.store.read(name)
        assert df is not None, f"no state for {name}"
        return df
