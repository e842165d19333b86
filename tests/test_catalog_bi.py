"""Chat-BI surface parity: register the marts in the Spark catalog and
run the reference's own chat-BI test SQL (demo/chat-bi/tests/*.yml)
against them, cross-checking every answer with DuckDB over the same mart
data (SURVEY §5.4)."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
import yaml

from kwwhat_spark.catalog import register_marts
from kwwhat_spark.models import Pipeline
from kwwhat_spark.sources.ocpp import load_ocpp_sources

BI_DIR = Path("/root/reference/demo/chat-bi/tests")
BI_TESTS = {
    t["name"]: re.sub(r"analytics\.ANALYTICS\.", "", t["sql"])
    for t in (yaml.safe_load(p.read_text()) for p in sorted(BI_DIR.glob("*.yml")))
}
# Slow tier (r13 suite split): reference-SQL compares over the mart cache.
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = [
    pytest.mark.full,
    pytest.mark.skipif(
        not BI_DIR.is_dir(), reason=f"reference chat-BI test YAML ({BI_DIR}) is absent"
    ),
]


@pytest.fixture(scope="module")
def bi_env(spark):
    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark))
    views = register_marts(pipe)
    con = duckdb.connect()
    for name in ("dim_ports", "dim_chargers", "fact_uptime", "fact_charge_attempts"):
        con.register(name, pipe.ref(name).toPandas())
    return pipe, views, con


def test_all_marts_registered(bi_env, spark):
    _, views, _ = bi_env
    assert "dim_ports" in views and "fact_visits" in views
    assert spark.sql("select count(*) as n from dim_ports").first()["n"] == 4


@pytest.mark.parametrize("name", sorted(BI_TESTS))
def test_chat_bi_reference_sql(bi_env, spark, name):
    _, _, con = bi_env
    sql = BI_TESTS[name]
    spark_row = spark.sql(sql).first().asDict()
    duck_cur = con.execute(sql)
    duck_row = dict(zip([d[0] for d in duck_cur.description], duck_cur.fetchone()))
    assert set(spark_row) == set(duck_row), name
    for col in spark_row:
        sv, dv = spark_row[col], duck_row[col]
        if isinstance(sv, float) or isinstance(dv, float):
            assert float(sv) == pytest.approx(float(dv), abs=1e-6), (name, col)
        else:
            assert sv == dv, (name, col)
