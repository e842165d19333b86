"""CLI subcommand tests (direct invocation with the shared session)."""

from __future__ import annotations

import pytest

# Slow tier (r13 suite split): CLI end-to-end runs (incremental stores, metrics, BI).
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = pytest.mark.full

import csv
import os
from types import SimpleNamespace

from kwwhat_spark.__main__ import cmd_build, cmd_check, cmd_incremental, cmd_metrics
from kwwhat_spark.quality import load_checks_yaml
from kwwhat_spark.sources.ocpp import DEMO_SEED_DIR
from perfbench import fleet


@pytest.fixture(scope="module")
def fleet_dir(tmp_path_factory):
    """A one-charger fleet generated by perfbench.fleet."""
    out = str(tmp_path_factory.mktemp("one_charger_fleet"))
    fleet.write_fleet(out, fleet.generate(7, 1))
    return out


def _args(tmp_path, **kw):
    base = dict(
        seed_dir=DEMO_SEED_DIR,
        checks=None,
        metrics=["total_visits", "first_attempt_success_rate"],
        group_by=[],
        models=["dim_ports", "fact_location_capacity"],
        out=str(tmp_path / "marts"),
        state=str(tmp_path / "state"),
        partitioned=False,
    )
    base.update(kw)
    return SimpleNamespace(**base)


def test_shipped_checks_parse():
    checks = load_checks_yaml()
    assert len(checks) > 200
    kinds = {c.kind for c in checks}
    assert kinds == {
        "not_null", "unique", "accepted_values", "unique_combination",
        "expression", "accepted_range", "relationships",
    }


def test_cmd_build_writes_marts(spark, tmp_path, fleet_dir):
    args = _args(tmp_path, seed_dir=fleet_dir,
                 models=["dim_ports", "fact_location_capacity", "fact_charge_attempts"])
    assert cmd_build(spark, args) == 0
    out = spark.read.parquet(str(tmp_path / "marts" / "dim_ports"))
    with open(os.path.join(fleet_dir, "ports.csv")) as f:
        assert out.count() == len(list(csv.DictReader(f)))
    # A fact model lands date-partitioned by its cluster_by.
    attempts = tmp_path / "marts" / "fact_charge_attempts"
    assert any(p.name.startswith("_date=") for p in attempts.iterdir())


def test_cmd_check_passes_on_seed(spark, tmp_path):
    assert cmd_check(spark, _args(tmp_path)) == 0


def test_cmd_metrics_runs(spark, tmp_path, capsys):
    assert cmd_metrics(spark, _args(tmp_path)) == 0
    assert "total_visits" in capsys.readouterr().out


def test_cmd_bi_answers_and_refuses(spark, tmp_path, capsys):
    from kwwhat_spark.__main__ import cmd_bi

    args = _args(tmp_path, question="How many ports do we have?", glance=False, pop=False)
    assert cmd_bi(spark, args) == 0
    assert "total_ports" in capsys.readouterr().out
    args = _args(tmp_path, question="What is our uptime?", glance=True, pop=False)
    assert cmd_bi(spark, args) == 0
    out = capsys.readouterr().out
    assert "overall_uptime_pct" in out and "status" in out
    args = _args(tmp_path, question="blended gross margin?", glance=False, pop=False)
    assert cmd_bi(spark, args) == 2
    assert "not defined in the semantic model" in capsys.readouterr().out


def test_cmd_incremental_builds_state(spark, tmp_path, fleet_dir):
    assert cmd_incremental(spark, _args(tmp_path, seed_dir=fleet_dir)) == 0
    state = spark.read.parquet(str(tmp_path / "state" / "fact_visits" / "v0"))
    assert state.count() > 0


def test_cmd_incremental_partitioned_store(spark, tmp_path, fleet_dir):
    assert cmd_incremental(spark, _args(tmp_path, seed_dir=fleet_dir, partitioned=True)) == 0
    part_dir = tmp_path / "state" / "fact_visits" / "partitioned"
    assert any(p.name.startswith("_part=") for p in part_dir.iterdir())


def test_cmd_query_and_list(spark, sf_dir, capsys):
    from kwwhat_spark.__main__ import cmd_list, cmd_query

    args = SimpleNamespace(name="filter_pushdown", sf_dir=sf_dir, explain=False, rows=5)
    assert cmd_query(spark, args) == 0
    assert "o_orderkey" in capsys.readouterr().out

    assert cmd_query(spark, SimpleNamespace(name="nope", sf_dir=sf_dir,
                                            explain=False, rows=5)) == 2

    assert cmd_list(spark, SimpleNamespace(oracle_only=True)) == 0
    out = capsys.readouterr().out
    assert "pricing_summary" in out and "[rows-only]" not in out


def test_cmd_corpus_packs_and_exports(spark, sf_dir, tmp_path):
    from kwwhat_spark.__main__ import cmd_corpus

    out = str(tmp_path / "shards")
    rc = cmd_corpus(
        spark,
        SimpleNamespace(
            sf_dir=sf_dir, out=out, min_quality=0.3, min_tokens=10,
            budget=256, shards=8, rows_per_shard=50, format="parquet",
        ),
    )
    assert rc == 0
    bins = spark.read.parquet(out)
    assert bins.count() > 0
    assert set(bins.columns) == {"shard", "bin_id", "bin_text", "bin_tokens"}
    # all but each shard's last bin are exactly budget-sized
    from pyspark.sql import functions as F

    full = bins.groupBy("shard").agg(F.max("bin_id").alias("last"))
    partial = bins.join(full, "shard").filter(
        (F.col("bin_id") != F.col("last")) & (F.col("bin_tokens") != 256)
    )
    assert partial.count() == 0


def test_cmd_curate_writes_capped_output(spark, sf_dir, tmp_path):
    from kwwhat_spark.__main__ import cmd_curate

    out = str(tmp_path / "curated")
    rc = cmd_curate(spark, SimpleNamespace(sf_dir=sf_dir, out=out))
    assert rc == 0
    kept = spark.read.parquet(out)
    assert kept.count() > 0
    assert {"doc_id", "source", "lang", "n_tokens_clean", "dup_span_frac",
            "cleaned_text"} <= set(kept.columns)
    from pyspark.sql import functions as F

    per_source = kept.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    assert per_source <= 40
    assert kept.filter(F.col("n_tokens_clean") < 20).count() == 0


def test_cmd_corpus_with_shuffle_salt(spark, sf_dir, tmp_path):
    from kwwhat_spark.__main__ import cmd_corpus

    def run(out, salt):
        rc = cmd_corpus(
            spark,
            SimpleNamespace(
                sf_dir=sf_dir, out=out, min_quality=0.3, min_tokens=10,
                budget=256, shards=8, rows_per_shard=50, format="parquet",
                shuffle_salt=salt,
            ),
        )
        assert rc == 0
        return spark.read.parquet(out)

    a = run(str(tmp_path / "s_a"), "epoch0")
    b = run(str(tmp_path / "s_b"), "epoch0")
    c = run(str(tmp_path / "s_c"), "epoch1")
    # Same salt -> identical packed bins; different salt -> different packing.
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(a) == rows(b)
    assert rows(a) != rows(c)
