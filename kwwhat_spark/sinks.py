"""Mart sinks: date-partitioned parquet writes.

The reference clusters every incremental table by its timestamp column
(`cluster_by`, e.g. int_status_changes.sql:6; SURVEY §4 "data
clustering"). The Spark-native analogue is directory partitioning by the
event date (`with_date`, the one layout the marts and the incremental
state store share): scans with a date predicate prune whole partitions,
and downstream jobs (the incremental runner's windowed re-reads in
particular) touch only the affected days. On Delta/Iceberg the same
mapping becomes Z-ORDER / liquid clustering — the writer contract is
unchanged.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.models.base import CLUSTER_BY, Pipeline
from kwwhat_spark.operators.cachescope import keep, scope
from kwwhat_spark.threads import run_all

# Partition column of every clustered table written here and by
# plans/incremental.ParquetStateStore.
DATE_COL = "_date"


def with_date(df: DataFrame, cluster_col: str) -> DataFrame:
    """``df`` plus its partition column, the date of ``cluster_col``."""
    return df.withColumn(DATE_COL, F.to_date(F.col(cluster_col)))


def write_partitioned(df: DataFrame, path: str, ts_col: str | None) -> None:
    if ts_col is None:
        df.write.mode("overwrite").parquet(path)
        return
    (
        with_date(df, ts_col)
        # Sorting by the cluster timestamp WITHIN each date partition is
        # the second half of the reference's cluster_by: directory
        # pruning handles the date predicate, and ordered parquet
        # row-group min/max stats prune sub-day time ranges at scan time
        # — at 100 TB an hourly window touches a handful of row groups
        # instead of the whole day's files.
        .sortWithinPartitions(DATE_COL, ts_col)
        .write.mode("overwrite")
        .partitionBy(DATE_COL)
        .parquet(path)
    )


def write_marts(pipe: Pipeline, out_dir: str, models: list[str]) -> dict[str, str]:
    """Materialize ``models`` under out_dir, each date-partitioned by its
    ``cluster_by`` if it has one. Returns {model: path}. The models are
    built together (``refs``), then written concurrently: each write is
    a few short stages, bound by driver overhead rather than cores."""
    paths = {name: os.path.join(out_dir, name) for name in models}
    dfs = pipe.refs(*models)
    run_all([partial(write_partitioned, df, paths[name], CLUSTER_BY.get(name))
             for name, df in zip(models, dfs)])
    return paths


def compact_partitioned(
    spark,
    path: str,
    *,
    target_mb: int = 128,
    min_files: int = 4,
    sort_col: str | None = None,
) -> dict[str, int]:
    """Compact small files inside a date-partitioned parquet table.

    Incremental merges (ParquetStateStore's clustered layout, dynamic
    partition overwrite) leave a few small files per touched partition
    per batch; over months the file count grows linearly and at 100 TB
    the metadata (listing, footers, task scheduling) dominates scan cost
    long before the bytes do. This rewrites ONLY partitions whose layout
    is bad — at least `min_files` files AND mean file size under half of
    `target_mb` — coalescing each to ceil(bytes/target) files, restoring
    the within-partition sort (`sort_col`) so row-group min/max pruning
    keeps working. Untouched partitions keep their exact files, the same
    contract the merge itself honors.

    Returns {partition_dir: files_before} for the rewritten partitions.
    Local-filesystem listing (os.walk); on HDFS/S3 swap the listing for
    the FileSystem API / S3 inventory — the rewrite plan is unchanged.
    On Delta/Iceberg this is OPTIMIZE / rewrite_data_files.
    """
    target_bytes = target_mb << 20
    rewritten: dict[str, int] = {}
    for root, dirs, files in os.walk(path):
        parts = [f for f in files if f.endswith(".parquet") and not f.startswith((".", "_"))]
        if len(parts) < min_files or "=" not in os.path.basename(root):
            continue
        total = sum(os.path.getsize(os.path.join(root, f)) for f in parts)
        if total / len(parts) >= target_bytes / 2:
            continue
        n_out = max(1, -(-total // target_bytes))
        df = spark.read.parquet(root).coalesce(int(n_out))
        if sort_col is not None:
            df = df.sortWithinPartitions(sort_col)
        # Materialize before overwriting the directory the plan reads.
        with scope():
            keep(df.localCheckpoint(eager=True)).write.mode("overwrite").parquet(root)
        rewritten[root] = len(parts)
        dirs[:] = []  # partition dirs are leaves; don't descend further
    return rewritten


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    order_by: list[str],
    rows_per_shard: int,
    n_partitions: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Export a corpus as deterministic, size-bounded training shards.

    Spark-native total-order sharding: `repartitionByRange` on the sort
    key gives non-overlapping, globally ordered partitions (one range
    shuffle — the same machinery as a global sort), rows are sorted
    within each partition, and `maxRecordsPerFile` caps shard size so
    downstream loaders stream fixed-size files without a planner.

    At 100 TB this is the right shape: the range exchange samples key
    quantiles (no driver materialization), every executor writes its own
    shard files, and no stage ever sees a global collect. `fmt` is
    "parquet" (training features) or "json" (JSONL text corpora).
    """
    if rows_per_shard <= 0:
        raise ValueError("rows_per_shard must be positive")
    if fmt not in ("parquet", "json"):
        raise ValueError("fmt must be 'parquet' or 'json'")
    cols = [F.col(c) for c in order_by]
    ranged = (
        df.repartitionByRange(n_partitions, *cols)
        if n_partitions
        else df.repartitionByRange(*cols)
    )
    (
        ranged.sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        .format(fmt)
        .save(path)
    )
