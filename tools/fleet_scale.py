#!/usr/bin/env python
"""OCPP fleet-scale sweep one decade up (VERDICT r8 #7): replicate the
demo seed N× (default 500× ≈ 8.8M log rows) and time the three
execution paths over it:

  batch        full-refresh build of every registered model (the r1
               1×/10×/50× table's shape, extended)
  stream       the stateful change-point stream, one availableNow pass
  incremental  the two-batch status→attempts chain through the
               state store (date-partitioned: every model in the
               chain but int_connector_latest_status is clustered)

Replication rewrites charge_point_id / location_id with a per-replica
tag (join grain stays per-charger: fan-out is wider, never deeper) and
retags each message uuid's first segment so request↔confirmation
correlation ids stay replica-unique.

The `visits` step (r11) measures the chained stateful visit stream at
fleet scale: batch-compiled attempts -> stream_visit_chains ->
stream_visit_parity with sentinel finalization, recording per-stage
wall, msgs/s, peak state rows, and emitted+flushed vs the batch mart.

Usage: python tools/fleet_scale.py [N] [build|batch|stream|incremental|visits|all]
Seed CSVs land in /tmp/fleet_{N}x; results print as JSON lines.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = "/root/reference/demo/seeds"

# Bump whenever build()'s retag logic changes. Stamped into the built
# dir and checked in 'all' mode, so a stale /tmp/fleet_Nx seed from an
# older builder (e.g. the pre-r11 one whose notif-* correlation ids
# stayed shared across replicas) is rebuilt instead of silently reused.
BUILDER_VERSION = "2-replica-unique-uids"
BOMB_VERSION = "bomb-shared-notif-uids"


def build(n: int, dst: str, bomb: bool = False) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")
    rep = f"lpad(CAST(r AS VARCHAR), 4, '0')"
    retag_id = f"regexp_replace(id, '^CH-', 'CH-' || {rep} || '-')"
    retag_cp = f"regexp_replace(charge_point_id, '^CH-', 'CH-' || {rep} || '-')"
    retag_loc = f"regexp_replace(location_id, '^LOC-', 'LOC-' || {rep} || '-')"
    # Correlation id -> replica-unique (prefix the replica tag into the
    # envelope's second element, the unique_id). The seed carries two id
    # shapes: ~16k of its 17.7k rows use RFC uuids (which the previous
    # '[0-9a-f]{8}-' uuid-segment rewrite DID retag correctly) and the
    # rest use short "notif-bf5357"-style ids — exactly the
    # high-multiplicity shared ones — which that pattern missed, so
    # those ids stayed shared across every replica. Because replica
    # copies also share timestamps, the request<->confirmation window
    # join then produced n^2 pairs per id (measured: 70.87M joined rows
    # at 500x but 1.13B at 2000x — 16x for 4x replicas), so every
    # fleet-scale number was dominated by an artificial quadratic data
    # bomb instead of the engine. The anchored rewrite below touches
    # only the uid position ('[<type>, "<uid>') of both CALL and
    # CALLRESULT envelopes, keeping request<->confirmation correlation
    # intact WITHIN a replica and distinct ACROSS replicas — the
    # documented intent ("fan-out is wider, never deeper").
    retag_msg = (
        "regexp_replace(msg, '^(\\[[0-9]+, \")', " f"'\\1' || {rep} || '-')"
    )
    if bomb:
        # ADVERSARIAL fixture: reproduce the pre-r11 regime on purpose —
        # retag only uuid-shaped uids, leaving the short notif-* ids (the
        # high-multiplicity ones) SHARED across all replicas, so the
        # request<->confirmation joins face the n² shared-id fanout. Used
        # to measure dense-fanout survival, never for clean scaling.
        retag_msg = (
            "regexp_replace(msg, '^(\\[[0-9]+, \")([0-9a-f]{8}-)', "
            f"'\\1' || {rep} || '-' || '\\2')"
        )
    con.execute(
        f"""COPY (
          SELECT timestamp, {retag_id} AS id, action, {retag_msg} AS msg
          FROM read_csv('{SEED}/ocpp_1_6_synthetic_logs_14d.csv', header=true,
                        auto_detect=true, all_varchar=true)
          CROSS JOIN (SELECT UNNEST(range({n})) AS r)
        ) TO '{dst}/ocpp_1_6_synthetic_logs_14d.csv' (HEADER, QUOTE '"')"""
    )
    con.execute(
        f"""COPY (
          SELECT {retag_cp} AS charge_point_id, {retag_loc} AS location_id,
                 commissioned_ts, decommissioned_ts
          FROM read_csv('{SEED}/chargers.csv', header=true, all_varchar=true)
          CROSS JOIN (SELECT UNNEST(range({n})) AS r)
        ) TO '{dst}/chargers.csv' (HEADER)"""
    )
    con.execute(
        f"""COPY (
          SELECT {retag_cp} AS charge_point_id, port_id
          FROM read_csv('{SEED}/ports.csv', header=true, all_varchar=true)
          CROSS JOIN (SELECT UNNEST(range({n})) AS r)
        ) TO '{dst}/ports.csv' (HEADER)"""
    )
    con.execute(
        f"""COPY (
          SELECT {retag_cp} AS charge_point_id, port_id, connector_id, connector_type
          FROM read_csv('{SEED}/connectors.csv', header=true, all_varchar=true)
          CROSS JOIN (SELECT UNNEST(range({n})) AS r)
        ) TO '{dst}/connectors.csv' (HEADER)"""
    )
    rows = con.execute(
        f"SELECT COUNT(*) FROM read_csv('{dst}/ocpp_1_6_synthetic_logs_14d.csv', header=true, all_varchar=true)"
    ).fetchone()[0]
    with open(os.path.join(dst, "_builder_version"), "w") as fh:
        fh.write(BOMB_VERSION if bomb else BUILDER_VERSION)
    print(json.dumps({"step": "build", "n": n, "log_rows": rows, "dst": dst}))


def _stamp_matches(dst: str) -> bool:
    try:
        with open(os.path.join(dst, "_builder_version")) as fh:
            return fh.read().strip() == BUILDER_VERSION
    except OSError:
        return False


def run_batch(spark, seed_dir: str) -> dict:
    from kwwhat_spark.models import MODELS, Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    t0 = time.perf_counter()
    pipe = Pipeline(
        spark=spark,
        sources=load_ocpp_sources(spark, seed_dir=seed_dir),
        cache_views=("stg_ocpp_logs",),
    )
    per_model = {}
    for name in MODELS:
        t1 = time.perf_counter()
        pipe.ref(name).write.format("noop").mode("overwrite").save()
        per_model[name] = round(time.perf_counter() - t1, 2)
    wall = round(time.perf_counter() - t0, 2)
    slowest = dict(sorted(per_model.items(), key=lambda kv: -kv[1])[:6])
    return {"step": "batch", "wall_s": wall, "n_models": len(per_model),
            "slowest": slowest}


def run_stream(spark, seed_dir: str) -> dict:
    import shutil
    import tempfile

    from kwwhat_spark.streaming.ocpp import (
        read_ocpp_stream,
        stage_stream,
        stream_status_changes,
    )

    d = tempfile.mkdtemp(prefix="fleet-stream-")
    shutil.copy(
        os.path.join(seed_dir, "ocpp_1_6_synthetic_logs_14d.csv"),
        os.path.join(d, "logs.csv"),
    )
    try:
        t0 = time.perf_counter()
        staged = stage_stream(read_ocpp_stream(spark, d))
        q = (
            stream_status_changes(staged)
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(d, "_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = round(time.perf_counter() - t0, 2)
        return {"step": "stream", "wall_s": wall}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_incremental(spark, seed_dir: str) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kwwhat_spark.plans.incremental import IncrementalRunner, ParquetStateStore
    from kwwhat_spark.sources.ocpp import load_ocpp_sources

    chain = [
        "int_status_changes", "int_connector_latest_status",
        "int_transactions", "int_connector_preparing", "fact_charge_attempts",
    ]
    sources = load_ocpp_sources(spark, seed_dir=seed_dir)
    state_dir = tempfile.mkdtemp(prefix="fleet-inc-")
    try:
        store = ParquetStateStore(spark, state_dir)
        runner = IncrementalRunner(spark, store)
        t0 = time.perf_counter()
        batch1 = {
            **sources,
            "raw_ocpp_logs": sources["raw_ocpp_logs"].filter(
                F.col("timestamp") < "2025-10-08T00"
            ),
        }
        runner.run_batch(batch1, models=chain)
        b1 = round(time.perf_counter() - t0, 2)
        t1 = time.perf_counter()
        runner.run_batch(sources, models=chain)
        b2 = round(time.perf_counter() - t1, 2)
        rows = store.read("fact_charge_attempts").count()
        return {"step": "incremental", "batch1_s": b1, "batch2_s": b2,
                "attempts_rows": rows}
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def run_visits(spark, seed_dir: str) -> dict:
    """Streaming visits at fleet scale (VERDICT r10 #4): batch-compile
    fact_charge_attempts from the replicated seed, feed it through the
    two chained stateful stages (stream_visit_chains ->
    stream_visit_parity) with the sentinel finalization row, and record
    throughput (attempt rows / stage wall), peak state rows per stage
    (stateOperators.numRowsTotal from the last progress), and the
    emitted+flushed count vs the batch mart."""
    import datetime
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kwwhat_spark.models import Pipeline
    from kwwhat_spark.sources.ocpp import load_ocpp_sources
    from kwwhat_spark.streaming.ocpp import stream_visit_chains, stream_visit_parity

    pipe = Pipeline(
        spark=spark,
        sources=load_ocpp_sources(spark, seed_dir=seed_dir),
        cache_views=("stg_ocpp_logs",),
    )
    t0 = time.perf_counter()
    attempts = pipe.ref("fact_charge_attempts")
    conns = pipe.ref("dim_connectors").select(
        F.col("charger_id").alias("c_charger_id"),
        F.col("connector_id").alias("c_connector_id"),
        "port_id",
    )
    chargers = pipe.ref("dim_chargers").select(
        F.col("charger_id").alias("ch_charger_id"), "location_id"
    )
    att = (
        attempts.join(
            F.broadcast(conns),
            (F.col("charger_id") == F.col("c_charger_id"))
            & (F.col("connector_id") == F.col("c_connector_id")),
        )
        .join(F.broadcast(chargers), F.col("charger_id") == F.col("ch_charger_id"))
        .filter(F.col("charge_attempt_start_ts").isNotNull())
        .select(
            "charge_attempt_id", "charger_id", "port_id", "connector_id",
            "location_id", "charge_attempt_start_ts", "charge_attempt_stop_ts",
            F.col("energy_transferred_kwh").cast("double").alias(
                "energy_transferred_kwh"
            ),
            "is_successful", "id_tag",
        )
    )
    root = tempfile.mkdtemp(prefix="fleet-visits-")
    try:
        att.write.mode("overwrite").parquet(f"{root}/attempts")
        in_schema = spark.read.parquet(f"{root}/attempts").schema
        n_attempts = spark.read.parquet(f"{root}/attempts").count()
        cap = att.agg(F.max(F.coalesce(
            "charge_attempt_stop_ts", "charge_attempt_start_ts"))).first()[0]
        flush_ts = cap + datetime.timedelta(days=2)
        sentinel = spark.createDataFrame(
            [("__FLUSH__", "__FLUSH__", "__FLUSH__", "0", "__FLUSH__",
              flush_ts, flush_ts, 0.0, False, None)],
            in_schema,
        )
        sentinel.write.mode("append").parquet(f"{root}/attempts")
        compile_s = round(time.perf_counter() - t0, 2)

        def drain(q, timeout_s):
            if not q.awaitTermination(timeout_s):
                q.stop()
                raise TimeoutError("stream stage still running")
            # Peak state across ALL progress events — the last batch is
            # the sentinel flush, after which state is ~empty.
            peak = 0
            for pr in q.recentProgress or []:
                for s in pr.get("stateOperators") or []:
                    peak = max(peak, s.get("numRowsTotal", 0))
            return peak

        t1 = time.perf_counter()
        q1 = (
            stream_visit_chains(
                spark.readStream.schema(in_schema).parquet(f"{root}/attempts")
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/chained")
            .option("checkpointLocation", f"{root}/ckpt1")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        state1 = drain(q1, 1800)
        chains_s = round(time.perf_counter() - t1, 2)

        # Stage 2 needs its own watermark-advancer, and it cannot be
        # appended to the stage-1 sink directory (the file stream source
        # trusts the sink's _spark_metadata log and would never see a
        # foreign file — ocpp_stream_visits_finalized docstring). Re-stage
        # the topic into a plain directory and append the sentinel there.
        chained = spark.read.parquet(f"{root}/chained")
        chained_schema = chained.schema
        chained.write.mode("overwrite").parquet(f"{root}/chained_in")
        spark.createDataFrame(
            [("__FLUSH__", "__FLUSH__", "__FLUSH__", "0", "__FLUSH__",
              flush_ts, flush_ts, 0.0, False, None)],
            chained_schema,
        ).write.mode("append").parquet(f"{root}/chained_in")
        t2 = time.perf_counter()
        q2 = (
            stream_visit_parity(
                spark.readStream.schema(chained_schema).parquet(f"{root}/chained_in")
            )
            .writeStream.format("parquet")
            .option("path", f"{root}/visits")
            .option("checkpointLocation", f"{root}/ckpt2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        state2 = drain(q2, 1800)
        visits_s = round(time.perf_counter() - t2, 2)

        emitted = (
            spark.read.parquet(f"{root}/visits")
            .filter(F.col("location_id") != "__FLUSH__")
            .count()
        )
        batch_visits = pipe.ref("fact_visits").count()
        return {
            "step": "visits", "attempt_rows": n_attempts,
            "compile_attempts_s": compile_s,
            "chains_s": chains_s, "visits_s": visits_s,
            "chains_state_rows": state1, "visits_state_rows": state2,
            "chains_msgs_per_s": round(n_attempts / max(chains_s, 0.01)),
            "emitted_plus_flushed": emitted, "batch_fact_visits": batch_visits,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    what = sys.argv[2] if len(sys.argv) > 2 else "all"
    dst = f"/tmp/fleet_{n}x"
    if what == "build":
        # Explicit build ALWAYS rebuilds: the exists-skip below silently
        # no-op'd a rebuild after the uid-retag fix (r11) and three
        # measurement rounds ran on the stale seed.
        build(n, dst)
        return
    if what == "build-bomb":
        build(n, f"/tmp/fleet_{n}x_bomb", bomb=True)
        return
    if what == "all" and (
        not os.path.exists(os.path.join(dst, "connectors.csv"))
        or not _stamp_matches(dst)
    ):
        build(n, dst)
    from kwwhat_spark.operators.cachescope import scope
    from kwwhat_spark.session import get_spark

    spark = get_spark(app_name=f"fleet-{n}x")
    spark.sparkContext.setLogLevel("ERROR")
    steps = ("batch", "stream", "incremental") if what == "all" else (what,)
    for step in steps:
        rec = {"n": n, "load_start": os.getloadavg()}
        fn = {"batch": run_batch, "stream": run_stream,
              "incremental": run_incremental, "visits": run_visits}[step]
        with scope():  # each step's models end with the step
            rec.update(fn(spark, dst))
        rec["load_end"] = os.getloadavg()
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
