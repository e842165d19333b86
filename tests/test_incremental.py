"""Replay the reference's incremental-mode dbt unit tests (SURVEY §5.2,
`overrides.macros.is_incremental: true`) against our models.

The mocked `this` input becomes the model's prior state
(`Pipeline.this_dfs`), so the model executes its is_incremental() branch:
window from max(incremental_ts of this), buffer re-read, merge logic.
Like dbt, we compare the model's *output batch* (the rows that would be
MERGEd), not the post-merge table — the merge itself is covered by the
IncrementalRunner tests below.
"""

from __future__ import annotations

import dataclasses
from pathlib import Path

import pytest

# Slow tier (r13 suite split): incremental convergence harness (1300+s); engine smoke stays via test_cli and test_streaming_sinks.
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = pytest.mark.full

from kwwhat_spark.config import VARS
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

# The reference disables this one upstream (marts/unit_tests.yml:1272-1273,
# config.enabled: false) — and it IS broken as written: the new batch's
# preparing/transaction rows carry ingested_ts equal to max(this.
# incremental_ts), which the model's strict `ingested_ts > from_timestamp`
# window (fact_charge_attempts.sql:55) excludes, so even the compiled
# reference SQL emits 0 rows against the mock (its `this` mock also
# carries a stale confirmation_ingested_ts column). The SCENARIO it
# describes — a buffered attempt gains StopTransaction data on the next
# run — is real and our engine implements it, so we replay the test with
# the buffered state stamped one second earlier (the watermark a real
# prior run would have left, since 10:00:00 data had not been processed
# yet) and the stale column dropped.
_ENABLED_ANYWAY = {"test_charge_attempt_incremental_merge_fills_stop_data"}

INCREMENTAL_TESTS = sorted(
    name
    for name, t in ALL_TESTS.items()
    if t.get("overrides", {}).get("macros", {}).get("is_incremental", False)
    and (
        t.get("config", {}).get("enabled", True) is not False
        or name in _ENABLED_ANYWAY
    )
)


@pytest.mark.parametrize("name", unit_test_params(INCREMENTAL_TESTS))
def test_dbt_incremental_unit(spark, name):
    t = ALL_TESTS[name]
    overrides: dict = {}
    this_dfs: dict = {}
    lenient = name in _ENABLED_ANYWAY
    for given in t["given"]:
        iname = input_name(given["input"])
        if iname == "this":
            if lenient:
                given = dict(given)
                given["rows"] = given["rows"].replace(
                    "cast('2025-10-01 10:00:00' as timestamp)  as incremental_ts",
                    "cast('2025-10-01 09:59:59' as timestamp)  as incremental_ts",
                )
            this_dfs[t["model"]] = build_input_df(
                spark, t["model"], given, ignore_unknown=lenient
            )
        else:
            overrides[iname] = build_input_df(
                spark, iname, given, ignore_unknown=lenient
            )
    vars_over = t.get("overrides", {}).get("vars", {})
    pvars = dataclasses.replace(VARS, **vars_over) if vars_over else VARS
    pipe = Pipeline(
        spark=spark, sources={}, overrides=overrides, vars=pvars, this_dfs=this_dfs
    )
    out = pipe.ref(t["model"])
    ok, msg = rows_match(t["expect"]["rows"] or [], out.collect())
    assert ok, f"{name}: {msg}"


# ---------------------------------------------------------------------------
# End-to-end: feeding a 14-day fleet through the IncrementalRunner in
# three cumulative batches must converge to the same state as one
# full-refresh run (the reference's incremental models are designed to be
# refresh-equivalent; late/boundary handling via buffers, SURVEY §2.8).
# ---------------------------------------------------------------------------

import datetime as dt
import decimal

from pyspark.sql import functions as F

from kwwhat_spark.plans.incremental import (
    INCREMENTAL_ORDER,
    IncrementalRunner,
    ParquetStateStore,
)
from kwwhat_spark.sources.ocpp import load_ocpp_sources


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows_key(df, cols):
    return sorted(
        (tuple(_norm(r[c]) for c in cols) for r in df.collect()), key=repr
    )


# Columns whose value links rows ACROSS a batch boundary. The reference's
# look-back buffer is 30 minutes (int_status_changes.sql:90-109): an open
# row older than that is never stitched to its successor in incremental
# mode, by design — dbt running the reference SQL produces the same
# divergence from full refresh. We therefore compare those columns only
# implicitly (via the unit tests that replay the reference's own
# incremental expectations) and exclude them from refresh-equivalence.
_BOUNDARY_LINK_COLS = {
    "int_status_changes": {
        "previous_status", "previous_ingested_ts", "previous_payload_ts",
        "next_status", "next_ingested_ts", "next_payload_ts",
    },
    "int_connector_preparing": {
        "previous_status", "previous_ingested_ts", "previous_payload_ts",
        "next_status", "next_ingested_ts", "next_payload_ts",
    },
    "fact_charge_attempts": {"previous_status", "next_status"},
}
# int_status_changes additionally keeps boundary rows that full refresh
# drops as non-changes (previous unknown at the boundary => treated as a
# change, exactly like the reference): incremental is a superset.
_SUPERSET_OK = {"int_status_changes"}


@pytest.mark.parametrize(
    "make_store",
    [
        pytest.param(lambda spark, d: ParquetStateStore(spark, d, cluster_by={}),
                     id="versioned"),
        pytest.param(ParquetStateStore, id="clustered"),
    ],
)
def test_incremental_runner_converges_to_full_refresh(
        spark, tmp_path, one_charger_fleet, make_store):
    sources = load_ocpp_sources(spark, one_charger_fleet)
    store = make_store(spark, str(tmp_path / "state"))
    runner = IncrementalRunner(spark, store)

    # Cumulative source snapshots: data "arrives" between runs.
    for cutoff in ["2025-10-06T00", "2025-10-11T00", None]:
        logs = sources["raw_ocpp_logs"]
        if cutoff is not None:
            logs = logs.filter(F.col("timestamp") < cutoff)
        runner.run_batch({**sources, "raw_ocpp_logs": logs})

    # A no-new-data batch must be a no-op (empty-batch watermarks are
    # null; merges of empty outputs leave state untouched).
    before = {n: store.read(n).count() for n in INCREMENTAL_ORDER}
    runner.run_batch(sources)
    after = {n: store.read(n).count() for n in INCREMENTAL_ORDER}
    assert after == before

    full = Pipeline(spark=spark, sources=sources)
    mismatches = []
    for name in INCREMENTAL_ORDER:
        expected = full.ref(name)
        actual = store.read(name)
        skip = {"incremental_ts"} | _BOUNDARY_LINK_COLS.get(name, set())
        cols = [c for c in expected.columns if c not in skip]
        exp, act = _rows_key(expected, cols), _rows_key(actual.select(*expected.columns), cols)
        if name in _SUPERSET_OK:
            missing = [r for r in exp if r not in act]
            if missing:
                mismatches.append(f"{name}: full-refresh rows missing from incremental: {missing[:3]}")
            continue
        if exp != act:
            only_exp = [r for r in exp if r not in act][:3]
            only_act = [r for r in act if r not in exp][:3]
            mismatches.append(
                f"{name}: {len(exp)} full-refresh vs {len(act)} incremental rows;"
                f"\n  only in full: {only_exp}\n  only in incr: {only_act}"
            )
    assert not mismatches, "\n".join(mismatches)


# ---------------------------------------------------------------------------
# Clustered layout: the insert_overwrite-style merge must (a) implement
# the same MERGE semantics as the versioned layout and (b) physically
# leave partitions outside the batch's date span untouched — the property
# that bounds batch cost by batch span instead of table size.
# ---------------------------------------------------------------------------
def _part_files(state_dir, model, part):
    d = Path(state_dir) / model / "partitioned" / f"_date={part}"
    return sorted((p.name, p.stat().st_mtime_ns) for p in d.glob("*.parquet"))


def test_partitioned_store_merge_touches_only_batch_partitions(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    store = ParquetStateStore(spark, state_dir, cluster_by={"m": "ingested_ts"})
    rows = [
        ("c1", f"2025-10-0{d} 0{h}:00:00", f"v{d}{h}")
        for d in (1, 2, 3)
        for h in (1, 2)
    ]
    df = spark.createDataFrame(rows, "charger_id string, ingested_ts string, val string")
    df = df.withColumn("ingested_ts", F.to_timestamp("ingested_ts"))
    store.merge("m", df, ["charger_id", "ingested_ts"])

    before_d1 = _part_files(state_dir, "m", "2025-10-01")
    before_d2 = _part_files(state_dir, "m", "2025-10-02")
    assert before_d1 and before_d2

    # Batch 2: update one d3 row, insert a new d3 row and a d4 row.
    new = spark.createDataFrame(
        [
            ("c1", "2025-10-03 01:00:00", "UPDATED"),
            ("c1", "2025-10-03 03:00:00", "NEW"),
            ("c1", "2025-10-04 01:00:00", "D4"),
        ],
        "charger_id string, ingested_ts string, val string",
    ).withColumn("ingested_ts", F.to_timestamp("ingested_ts"))
    store.merge("m", new, ["charger_id", "ingested_ts"])

    # MERGE semantics match the versioned layout's definition.
    got = {
        (r["charger_id"], r["ingested_ts"].isoformat()): r["val"]
        for r in store.read("m").collect()
    }
    assert len(got) == 8
    assert got[("c1", "2025-10-03T01:00:00")] == "UPDATED"
    assert got[("c1", "2025-10-03T03:00:00")] == "NEW"
    assert got[("c1", "2025-10-04T01:00:00")] == "D4"
    assert got[("c1", "2025-10-01T01:00:00")] == "v11"

    # d1/d2 partition files are bit-identical on disk (same names+mtimes):
    # the merge never rewrote them.
    assert _part_files(state_dir, "m", "2025-10-01") == before_d1
    assert _part_files(state_dir, "m", "2025-10-02") == before_d2

    # Empty batch: nothing touched anywhere.
    before_d3 = _part_files(state_dir, "m", "2025-10-03")
    store.merge("m", df.limit(0), ["charger_id", "ingested_ts"])
    assert _part_files(state_dir, "m", "2025-10-03") == before_d3
    assert store.read("m").count() == 8


def test_corrupted_state_fails_loudly_not_empty(spark, tmp_path):
    # Round-3 advisor item: a state directory whose part files exist but
    # cannot be read must raise, NOT silently become an empty DataFrame
    # (which would let the next merge rebuild state from the current
    # batch alone — masked data loss). Empty-state reconstruction is
    # only legal when no part files exist at all.
    import pytest

    df = spark.createDataFrame(
        [("c1", "2025-10-01 01:00:00", "v1")],
        "charger_id string, ingested_ts string, val string",
    ).withColumn("ingested_ts", F.to_timestamp("ingested_ts"))

    # Versioned layout: corrupt every part file of the current version.
    vstate = str(tmp_path / "vstate")
    vstore = ParquetStateStore(spark, vstate)
    vstore.write("m", df)
    for p in (Path(vstate) / "m" / "v0").glob("*.parquet"):
        p.write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        vstore.read("m").collect()

    # Clustered layout: same corruption under the partition dirs.
    pstate = str(tmp_path / "pstate")
    pstore = ParquetStateStore(spark, pstate, cluster_by={"m": "ingested_ts"})
    pstore.merge("m", df, ["charger_id", "ingested_ts"])
    for p in (Path(pstate) / "m" / "partitioned").rglob("*.parquet"):
        p.write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        pstore.merge("m", df, ["charger_id", "ingested_ts"])


def test_partitioned_store_refuses_leftover_versioned_state(spark, tmp_path):
    # A model clustered by default with versioned state left on disk
    # (written while it had no cluster column) must fail loudly, not
    # silently restart from empty.
    import pytest

    state_dir = str(tmp_path / "state")
    old = ParquetStateStore(spark, state_dir, cluster_by={})
    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "charger_id long, ingested_ts string")
    old.write("int_status_changes", df)

    part = ParquetStateStore(spark, state_dir)
    with pytest.raises(RuntimeError, match="versioned layout"):
        part.read("int_status_changes")
    with pytest.raises(RuntimeError, match="versioned layout"):
        part.merge("int_status_changes", df, ["charger_id", "ingested_ts"])

    # Partition data without its _partitioned.json record (an interrupted
    # first write, or an older `_part=` state) refuses the same way.
    clustered = ParquetStateStore(spark, state_dir, cluster_by={"m": "ingested_ts"})
    clustered.write("m", df)
    (Path(state_dir) / "m" / "_partitioned.json").unlink()
    with pytest.raises(RuntimeError, match="no .*_partitioned.json"):
        clustered.read("m")
    with pytest.raises(RuntimeError, match="no .*_partitioned.json"):
        clustered.merge("m", df, ["charger_id", "ingested_ts"])


def test_staged_cutoff_equals_staging_filtered_raw(spark):
    # The gate entries inject a filtered staged CHECKPOINT for batch 1
    # instead of re-staging the filtered raw rows; the two must be
    # row-identical (staging is a pure row-wise projection).
    from pyspark.sql import functions as F

    from kwwhat_spark.models.base import Pipeline
    from kwwhat_spark.queries.ocpp_pipeline import _INC_CUTOFF, _staged_cutoff
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    sources = load_ocpp_sources(spark)
    batch1 = {
        **sources,
        "raw_ocpp_logs": sources["raw_ocpp_logs"].filter(
            F.col("timestamp") < _INC_CUTOFF
        ),
    }
    expected = Pipeline(spark=spark, sources=batch1).ref("stg_ocpp_logs")
    got = _staged_cutoff(spark)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
