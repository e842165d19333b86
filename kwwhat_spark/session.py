"""SparkSession factory.

Defaults are tuned for the test rig (local[32], 128 GiB, sf<=0.1 parquet)
but every knob is chosen to also be the right *shape* at cluster scale:
AQE owns runtime re-planning (partition coalescing, skew-join splitting,
broadcast demotion), shuffle partitions start proportional to parallelism,
and the session timezone is pinned to UTC to match the reference's
timestamp semantics (all OCPP timestamps are UTC ISO-8601).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24g, or half the machine's physical memory when that is less."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return "24g" if half_mb >= 24 * 1024 else f"{half_mb}m"


def get_spark(
    app_name: str = "kwh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally we default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # UTC everywhere: reference timestamps are ISO-8601 UTC strings.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE = runtime re-planning: coalesce post-shuffle partitions,
        # split skewed join partitions, demote broadcast when estimates lie.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF path (dedup/similarity/multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: the reference dims (chargers/ports/connectors,
        # dim_dates at 11,323 rows) are tiny; 64 MB keeps them broadcast even
        # at fleet scale. AQE will demote if an estimate is wrong.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE's RUNTIME broadcast conversion may go higher than the static
        # threshold: it decides on MEASURED shuffle bytes, so there is no
        # mis-estimate risk, and replacing a sort-merge join whose probe
        # side is 100x the build is worth a 100-250 MB broadcast on any
        # sane executor (measured: TPC-H Q5 at a 600M-row lineitem probe,
        # 27.2 s -> 21.2 s when the ~90 MB one-year+ASIA order slice
        # converts — BASELINE.md round 7).
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        # Readable plans while iterating.
        .config("spark.sql.ui.explainMode", "formatted")
        # Local mode hosts all 32 executor threads inside the driver JVM:
        # an 8g heap showed progressive GC drift across bench runs
        # (19->30 s for identical plans). The rig has 128 GiB; 24g keeps
        # steady-state flat. A smaller machine gets half its memory: a
        # 24g heap on 16 GB let one test JVM reach 9.2 GB RSS and two
        # side-by-side sessions lose their JVMs. On a real cluster
        # executor memory is sized by spark-submit and this knob only
        # covers the driver proper.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # Shuffle/spill scratch stays on disk BY DESIGN (Spark's /tmp
        # default; SPARK_LOCAL_DIRS overrides it natively, no config
        # needed): spill is unbounded — a quadratic candidate join at
        # sf10 wrote 101 GB — and spill-to-tmpfs turns a slow query into
        # an OOM-killed JVM. Input DATA on tmpfs (bench.py) is safe; it
        # is bounded and read-only. Scratch is neither.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # Driver testdata writes TIMESTAMP(NANOS) parquet (pandas ns
        # precision), which Spark's vectorized reader rejects; read as long
        # and convert in the loader (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's default parquet timestamp encoding is INT96, which
        # carries NO min/max footer statistics — silently disabling
        # timestamp file/row-group pruning on every sink this engine
        # writes (date-partitioned sinks, manifest stats harvesting,
        # z-order layouts). INT64 micros is the modern encoding: stats
        # present, 25% smaller, and what Delta/Iceberg expect.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
