"""CLI — the `dbt build` equivalent for the PySpark engine.

  python -m kwwhat_spark build       --seed-dir D --out DIR   # full refresh → parquet marts
  python -m kwwhat_spark incremental --seed-dir D --state DIR # one merge batch into state
  python -m kwwhat_spark check       --seed-dir D             # declared schema tests
  python -m kwwhat_spark metrics     --seed-dir D [--group-by DIM ...]
  python -m kwwhat_spark query NAME  [--sf-dir D] [--explain] [-n ROWS]
  python -m kwwhat_spark list        [--oracle-only]
  python -m kwwhat_spark corpus --out DIR [--sf-dir D]  # clean→dedup→pack→shards
  python -m kwwhat_spark curate --out DIR [--sf-dir D]  # signals→strip→gate→cap

`--seed-dir` defaults to the reference demo seed. All subcommands build
the model DAG lazily — each only executes its own upstream subgraph.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

from kwwhat_spark.models.base import MODELS, VIEW_MODELS, Pipeline
from kwwhat_spark.sinks import write_marts
from kwwhat_spark.sources.ocpp import DEMO_SEED_DIR, load_ocpp_sources


def _session(args) -> SparkSession:
    from kwwhat_spark.session import get_spark

    return get_spark(
        app_name="kwh-spark-cli",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
    )


def cmd_build(spark: SparkSession, args) -> int:
    pipe = Pipeline(
        spark=spark,
        sources=load_ocpp_sources(spark, args.seed_dir),
        cache_views=("stg_ocpp_logs",),
    )
    names = args.models or [m for m in MODELS if m not in VIEW_MODELS]
    # refs (in write_marts, or in the loop) builds every model first,
    # independent branches side by side; the loop then only counts
    # finished checkpoints.
    paths = write_marts(pipe, args.out, names) if args.out else {}
    for name, df in zip(names, pipe.refs(*names)):
        where = f" -> {paths[name]}" if name in paths else ""
        print(f"{name}: {df.count()} rows{where}")
    return 0


def cmd_incremental(spark: SparkSession, args) -> int:
    from kwwhat_spark.plans.incremental import (
        INCREMENTAL_ORDER,
        IncrementalRunner,
        ParquetStateStore,
    )

    store = ParquetStateStore(spark, args.state)
    runner = IncrementalRunner(spark, store)
    runner.run_batch(load_ocpp_sources(spark, args.seed_dir))
    for name in INCREMENTAL_ORDER:
        print(f"{name}: {store.read(name).count()} rows in state")
    return 0


def cmd_check(spark: SparkSession, args) -> int:
    from kwwhat_spark.quality import load_checks_yaml, run_checks

    checks = load_checks_yaml(args.checks)
    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, args.seed_dir))
    violations = run_checks(pipe.ref, checks)
    for v in violations:
        print(f"{v.check.severity.upper()} {v.check.name}: {v.failing_rows} failing rows")
    errors = [v for v in violations if v.check.severity == "error"]
    print(f"{len(checks)} checks, {len(violations)} violations ({len(errors)} errors)")
    return 1 if errors else 0


def cmd_metrics(spark: SparkSession, args) -> int:
    from kwwhat_spark.metrics import METRICS, query_metrics

    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, args.seed_dir))
    names = args.metrics or sorted(METRICS)
    df = query_metrics(pipe, names, group_by=args.group_by or [])
    df.show(100, truncate=False)
    return 0


def cmd_bi(spark: SparkSession, args) -> int:
    """Ask a natural-language question against the marts (the
    deterministic core of the reference's chat-BI demo)."""
    from kwwhat_spark import bi

    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, args.seed_dir))
    try:
        df = bi.ask(pipe, args.question)
    except bi.UnknownMetricError as e:
        print(f"not defined in the semantic model: {e}")
        return 2
    if args.glance:
        bi.at_a_glance(df).show(100, truncate=False)
    elif args.pop:
        bi.period_over_period(pipe, args.question).show(100, truncate=False)
    else:
        df.show(100, truncate=False)
    return 0


def cmd_query(spark: SparkSession, args) -> int:
    from kwwhat_spark.queries import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `python -m kwwhat_spark list`")
        return 2
    df = REGISTRY[args.name].spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def cmd_corpus(spark: SparkSession, args) -> int:
    """Clean → dedup → pack → export: the training-data path end-to-end."""
    from pyspark.sql import functions as F

    from kwwhat_spark.operators.corpus import materialize_packed_bins
    from kwwhat_spark.operators.dedup import exact_dedup
    from kwwhat_spark.operators.scaling import shard_column
    from kwwhat_spark.sinks import write_training_shards
    from kwwhat_spark.sources.testdata import load_table
    from kwwhat_spark.streaming.corpus import enrich_documents

    docs = load_table(spark, args.sf_dir, "documents")
    enriched = enrich_documents(docs).filter(
        (F.col("quality") >= args.min_quality) & (F.col("token_count") >= args.min_tokens)
    )
    keepers = exact_dedup(enriched, "text", "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    unique = enriched.join(keepers, "doc_id", "left_semi")
    if getattr(args, "shuffle_salt", None):
        # Seeded global shuffle: shard by ordinal (balanced, deterministic)
        # and pack in shuffle order within each shard.
        from kwwhat_spark.operators.corpus import deterministic_shuffle

        shuffled = deterministic_shuffle(unique, "doc_id", salt=args.shuffle_salt)
        sharded = shuffled.withColumn(
            "shard", (F.col("shuffle_ordinal") % args.shards).cast("int")
        )
        order_col = "shuffle_ordinal"
    else:
        sharded = shard_column(unique, "doc_id", args.shards)
        order_col = "doc_id"
    bins = materialize_packed_bins(
        sharded, "text", budget=args.budget, partition_col="shard", order_col=order_col
    )
    write_training_shards(
        bins, args.out, order_by=["shard", "bin_id"],
        rows_per_shard=args.rows_per_shard, fmt=args.format,
    )
    n = spark.read.format(args.format).load(args.out).count()
    print(f"{n} packed bins of {args.budget} tokens -> {args.out}")
    return 0


def cmd_curate(spark: SparkSession, args) -> int:
    """Signals → substring strip → length gate → source cap → parquet,
    plus a per-source summary to stdout."""
    from pyspark.sql import functions as F

    from kwwhat_spark.queries import REGISTRY

    out = REGISTRY["curation_pipeline"].spark(spark, args.sf_dir)
    out.write.mode("overwrite").parquet(args.out)
    kept = spark.read.parquet(args.out)
    summary = (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens_clean").alias("tokens"),
            F.round(F.avg("dup_span_frac"), 4).alias("avg_dup_frac"),
        )
        .orderBy("source")
    )
    for r in summary.collect():
        print(f"{r['source']:10s} docs={r['docs']:<6d} tokens={r['tokens']:<9d} "
              f"avg_dup_frac={r['avg_dup_frac']}")
    print(f"curated {kept.count()} documents -> {args.out}")
    return 0


def cmd_list(spark: SparkSession, args) -> int:
    from kwwhat_spark.queries import REGISTRY

    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        if args.oracle_only and q.oracle is None:
            continue
        marks = ("oracle" if q.oracle else "rows-only") + (
            ", headline" if q.headline else ""
        )
        print(f"{name:36s} [{marks}] {q.cite}")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="kwwhat_spark")
    parser.add_argument("--seed-dir", default=DEMO_SEED_DIR)
    parser.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    sub = parser.add_subparsers(dest="command", required=True)

    p_build = sub.add_parser("build", help="full-refresh the model DAG")
    p_build.add_argument("--out", default=None, help="write marts as parquet here")
    p_build.add_argument("--models", nargs="*", default=None)

    p_inc = sub.add_parser("incremental", help="run one incremental merge batch")
    p_inc.add_argument("--state", required=True, help="state-store directory")

    p_check = sub.add_parser("check", help="run declared schema tests")
    p_check.add_argument("--checks", default=None, help="checks yml (default: shipped)")

    p_metrics = sub.add_parser("metrics", help="compute semantic-layer metrics")
    p_metrics.add_argument("--metrics", nargs="*", default=None)
    p_metrics.add_argument("--group-by", nargs="*", default=None)

    p_bi = sub.add_parser("bi", help="ask a natural-language BI question")
    p_bi.add_argument("question")
    p_bi.add_argument("--glance", action="store_true",
                      help="render as the metrics-at-a-glance table")
    p_bi.add_argument("--pop", action="store_true",
                      help="include period-over-period pp deltas")

    p_query = sub.add_parser("query", help="run one catalog query")
    p_query.add_argument("name")
    p_query.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p_query.add_argument("--explain", action="store_true")
    p_query.add_argument("-n", "--rows", type=int, default=20)

    p_list = sub.add_parser("list", help="list catalog queries")
    p_list.add_argument("--oracle-only", action="store_true")

    p_corpus = sub.add_parser(
        "corpus", help="clean, dedup, pack, and export training shards"
    )
    p_corpus.add_argument("--out", required=True)
    p_corpus.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p_corpus.add_argument("--min-quality", type=float, default=0.3)
    p_corpus.add_argument("--min-tokens", type=int, default=10)
    p_corpus.add_argument("--budget", type=int, default=256)
    p_corpus.add_argument("--shards", type=int, default=32)
    p_corpus.add_argument("--rows-per-shard", type=int, default=10000)
    p_corpus.add_argument("--format", choices=("parquet", "json"), default="parquet")
    p_corpus.add_argument(
        "--shuffle-salt",
        default=None,
        help="seeded global shuffle before packing (same salt -> same permutation)",
    )

    p_curate = sub.add_parser(
        "curate", help="repetition gate, substring strip, length gate, source cap"
    )
    p_curate.add_argument("--out", required=True)
    p_curate.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))

    args = parser.parse_args(argv)
    spark = _session(args)
    try:
        return {
            "build": cmd_build,
            "incremental": cmd_incremental,
            "check": cmd_check,
            "metrics": cmd_metrics,
            "bi": cmd_bi,
            "query": cmd_query,
            "list": cmd_list,
            "corpus": cmd_corpus,
            "curate": cmd_curate,
        }[args.command](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
