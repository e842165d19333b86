"""Date-partitioned mart sink: partition layout exists, reads round-trip,
and a date predicate prunes partitions (on the shared one-charger,
14-day fleet)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import Pipeline
from kwwhat_spark.sinks import write_marts
from kwwhat_spark.sources.ocpp import load_ocpp_sources


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory, one_charger_fleet):
    out = str(tmp_path_factory.mktemp("marts"))
    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet))
    paths = write_marts(pipe, out, models=["fact_charge_attempts", "fact_downtime_daily"])
    return pipe, paths


def test_partition_layout_and_roundtrip(spark, written):
    pipe, paths = written
    path = paths["fact_charge_attempts"]
    days = [d for d in os.listdir(path) if d.startswith("_date=")]
    assert len(days) >= 10  # 14-day fleet
    back = spark.read.parquet(path)
    assert back.count() == pipe.ref("fact_charge_attempts").count()


def test_partition_pruning(spark, written):
    _, paths = written
    back = spark.read.parquet(paths["fact_charge_attempts"])
    pruned = back.filter(F.col("_date") == "2025-10-03")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # The scan must prune to one partition directory, not read-all+filter.
    assert "PartitionFilters: [isnotnull(_date" in plan, plan[:500]
    assert pruned.count() > 0


def test_rows_sorted_within_date_partition(spark, written):
    """cluster_by analog: each date partition's files hold rows sorted by
    the cluster timestamp, so parquet row-group min/max stats prune
    sub-day time ranges (BASELINE/SURVEY §4 clustering)."""
    import pyarrow.parquet as pq

    _, paths = written
    path = paths["fact_charge_attempts"]
    days = sorted(d for d in os.listdir(path) if d.startswith("_date="))
    checked = 0
    for day in days[:5]:
        for f in os.listdir(os.path.join(path, day)):
            if not f.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(path, day, f), columns=["charge_attempt_start_ts"]
            )["charge_attempt_start_ts"].to_pylist()
            assert col == sorted(col), (day, f)
            checked += 1
    assert checked > 0
