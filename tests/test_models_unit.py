"""Replay the reference's full-refresh dbt unit tests against our models
(SURVEY §5.2; the incremental-mode ones run in test_incremental.py)."""

from __future__ import annotations

from pathlib import Path

import pytest

from kwwhat_spark.models import Pipeline
from tests.dbt_unit_harness import (
    build_input_df,
    input_name,
    load_unit_tests,
    rows_match,
    unit_test_params,
)

INTERMEDIATE = Path("/root/reference/models/intermediate/unit_tests.yml")
MARTS = Path("/root/reference/models/marts/unit_tests.yml")

ALL_TESTS = load_unit_tests(INTERMEDIATE, MARTS)

FULL_REFRESH_TESTS = sorted(
    name
    for name, t in ALL_TESTS.items()
    if not t.get("overrides", {}).get("macros", {}).get("is_incremental", False)
    and t.get("config", {}).get("enabled", True) is not False
)


@pytest.mark.parametrize("name", unit_test_params(FULL_REFRESH_TESTS))
def test_dbt_unit(spark, name):
    t = ALL_TESTS[name]
    overrides = {}
    for given in t["given"]:
        iname = input_name(given["input"])
        assert iname != "this", "full-refresh test should not mock this"
        overrides[iname] = build_input_df(spark, iname, given)
    pipe = Pipeline(spark=spark, sources={}, overrides=overrides)
    out = pipe.ref(t["model"])
    ok, msg = rows_match(t["expect"]["rows"] or [], out.collect())
    assert ok, f"{name}: {msg}"
