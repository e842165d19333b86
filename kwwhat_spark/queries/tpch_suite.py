"""TPC-H-derived decision-support suite over the testdata tables.

The reference's query surface (SURVEY.md §2) is an OCPP analytics DAG;
this module widens the engine's demonstrated coverage to the classic
decision-support shapes (TPC-H Q3–Q22, adapted to the driver's simplified
schema: no partsupp, no commit/receipt dates, synthetic NATION_* names).
Every query is Spark-first with a DuckDB oracle.

Determinism (cross-engine bit-identical results):
  - money aggregates are DECIMAL(18,2)-cast sums (exact, order-free),
    cast to double only in the final projection;
  - every top-k orders by the EXACT decimal aggregate plus a unique
    tiebreaker key, so the selected set is identical in both engines;
  - ratios divide two exact decimal sums after casting each to double
    (one IEEE division — identical on both engines).

Scale notes (100 TB target) are per-query; the common ones:
  - nation/region/supplier/part are dimension-sized → broadcast joins,
    no shuffle of the fact side on dim keys;
  - orders⋈lineitem is the one genuinely large shuffle — AQE handles
    skew; both sides hash-partition on the order key;
  - top-k uses TakeOrderedAndProject (per-partition heap + driver merge
    of k rows), never a global sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.queries.catalog import query
from kwwhat_spark.sources.testdata import load_table


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


def _rev():
    """Exact revenue expression: extendedprice * (1 - discount)."""
    return _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _c2(c):
    """2-dp money/ratio column → integer hundredths (long). Exact and
    ~3× faster per row than the decimal chain (long codegen); see
    tpch.py:_c2 for the full rationale and overflow analysis."""
    return F.round(F.col(c) * 100, 0).cast("long")


def _rev_c():
    """Revenue in 1e-4 units: price_hundredths × (100 − discount_pct_h)."""
    return _c2("l_extendedprice") * (100 - _c2("l_discount"))


# DuckDB mirror of _rev_c(); SUM of it is HUGEINT (exact), cast to DOUBLE
# only in the final projection, like Spark's decimal(28,0) accumulator.
_REV_C_SQL = (
    "CAST(round(l_extendedprice*100,0) AS BIGINT)"
    " * (100 - CAST(round(l_discount*100,0) AS BIGINT))"
)


def _bc(
    df: DataFrame, sf_dir: str, table: str, frac: float = 1.0,
    cap_rows: int = 1_500_000,
):
    """Broadcast-hint a (possibly filtered/aggregated) join side when its
    estimated ROW count — the source table's parquet-footer row count ×
    the row-selectivity fraction the caller KNOWS from its predicate —
    fits under the cap; above it, plant no hint and let Catalyst/AQE
    pick (sort-merge, runtime-converted to broadcast if the true shuffle
    size is small). The footer read is metadata-only: no Spark job, no
    scan.

    Why not plain F.broadcast: an explicit hint is honored at ANY size —
    AQE does not demote it — so hinting a filtered fact slice that is
    100k rows at sf1 becomes a multi-GB driver hash build (measured: a
    hinted 7.5M-row key set turned a 1.6 s query into 22 s at sf10, and
    at cluster scale it is an OOM). And why not no hint at all: Spark's
    static size estimate ignores filter selectivity entirely (Filter
    stats = child stats without CBO), which is exactly how the
    column-pruned 6M-row lineitem got picked as a build side over the
    50× smaller filtered orders. Row counts are the right unit because
    hash-relation build cost and memory are per-row dominated, not
    per-byte; the estimate errs toward NOT hinting, whose fallback
    (shuffle + AQE) is always safe.
    """
    import pyarrow.parquet as pq

    rows = pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
    return F.broadcast(df) if rows * frac <= cap_rows else df


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Derived partsupp: the schema ships no partsupp table, so the four
# queries that need one (Q2/Q11/Q16/Q20) derive it from lineitem —
# supplycost := min observed unit price, availqty := total shipped
# quantity. Both engines derive it identically, so oracles stay exact.
# (Per-row double division is IEEE-deterministic; min is exact.)
# ---------------------------------------------------------------------------
_PARTSUPP_SQL = """
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty
      FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"),
            F.sum(_dec("l_quantity")).cast("double").alias("ps_availqty"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 (adapted) — minimum-cost supplier: for every EUROPE-region part
# sold in MEDIUM type, the supplier(s) achieving the minimum derived
# supplycost; top-100 by account balance. The per-part min is an agg +
# equi-join back (the decorrelated form of Q2's correlated subquery).
# ---------------------------------------------------------------------------
@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    europe AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
             s.s_acctbal, s.s_name, n.n_name AS nation_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    min_cost AS (
      SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
      FROM europe GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.nation_name, p.p_partkey, p.p_type,
           e.ps_supplycost AS supplycost
    FROM europe e
    JOIN min_cost m ON m.ps_partkey = e.ps_partkey AND e.ps_supplycost = m.min_cost
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_type = 'MEDIUM' AND p.p_size <= 25
    ORDER BY e.s_acctbal DESC, e.nation_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
    cite="TPC-H Q2 shape (partsupp derived from lineitem)",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "MEDIUM") & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_type")
    europe = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name",
                F.col("n_name").alias("nation_name"))
    )
    # Two consumers (per-part min + join back) of the derived-partsupp
    # rollup; persist so the 6M-row aggregation runs once.
    europe = keep(europe.persist())
    min_cost = europe.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        europe.join(min_cost, "ps_partkey")
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(p, F.col("ps_partkey") == p.p_partkey)
        .orderBy(F.col("s_acctbal").desc(), "nation_name", "s_name", "p_partkey")
        .limit(100)
        .select("s_acctbal", "s_name", "nation_name", "p_partkey", "p_type",
                F.col("ps_supplycost").alias("supplycost"))
    )


# ---------------------------------------------------------------------------
# Q11 (adapted) — important stock: per-part stock value
# (supplycost × availqty) for NATION_3 suppliers, keeping parts above
# 1/1000 of the nation's total. Exact-decimal value via per-row cast.
# ---------------------------------------------------------------------------
@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    nat AS (
      SELECT ps.ps_partkey,
             SUM(CAST(ROUND(ps.ps_supplycost * ps.ps_availqty, 2) AS DECIMAL(18,2))) AS value_dec
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY ps.ps_partkey
    )
    SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS stock_value
    FROM nat
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(SUM(value_dec) AS DOUBLE) / 1000 FROM nat)
    """,
    cite="TPC-H Q11 shape (partsupp derived from lineitem)",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("ps_partkey")
        .agg(
            # Round the double product to cents BEFORE the decimal cast:
            # raw products can land exactly on a .005 cast midpoint, where
            # Spark (HALF_UP) and DuckDB tie-break differently.
            F.sum(
                F.round(F.col("ps_supplycost") * F.col("ps_availqty"), 2)
                .cast("decimal(18,2)")
            ).alias("value_dec")
        )
    )
    # Two consumers (cutoff scalar + final filter) would re-run the
    # derived-partsupp aggregation; persist the small per-part rollup.
    nat = keep(nat.persist())
    total = nat.agg((F.sum("value_dec").cast("double") / F.lit(1000)).alias("cutoff"))
    return (
        nat.join(F.broadcast(total), F.col("value_dec").cast("double") > F.col("cutoff"))
        .select("ps_partkey", F.col("value_dec").cast("double").alias("stock_value"))
    )


# ---------------------------------------------------------------------------
# Q16 (adapted) — parts/supplier relationship: distinct supplier count
# per (brand, type, size band) for non-STANDARD parts.
# ---------------------------------------------------------------------------
@query(
    "tpch_q16_part_supplier_counts",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL})
    SELECT p.p_brand, p.p_type, (p.p_size - 1) // 10 AS size_band,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_type <> 'STANDARD'
    GROUP BY p.p_brand, p.p_type, (p.p_size - 1) // 10
    """,
    cite="TPC-H Q16 shape (partsupp derived from lineitem)",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") != "STANDARD")
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy(
            "p_brand", "p_type",
            ((F.col("p_size") - 1) / 10).cast("long").alias("size_band"),
        )
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 (adapted) — suppliers with concentrated recent shipping: ASIA
# suppliers having a part whose 1997 shipped quantity exceeds 30% of
# that part-supplier's all-time quantity (EXISTS → left-semi).
# ---------------------------------------------------------------------------
@query(
    "tpch_q20_excess_suppliers",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    y97 AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty97
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND EXISTS (
        SELECT 1 FROM y97 y
        JOIN partsupp ps ON ps.ps_partkey = y.l_partkey AND ps.ps_suppkey = y.l_suppkey
        WHERE y.l_suppkey = s.s_suppkey AND y.qty97 > 0.3 * ps.ps_availqty
      )
    """,
    cite="TPC-H Q20 shape (partsupp derived from lineitem)",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    y97 = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty97"))
    )
    qualifying = (
        y97.join(
            ps,
            (ps.ps_partkey == F.col("l_partkey")) & (ps.ps_suppkey == F.col("l_suppkey")),
        )
        .filter(F.col("qty97") > 0.3 * F.col("ps_availqty"))
        .select(F.col("l_suppkey").alias("q_suppkey"))
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(qualifying, s.s_suppkey == F.col("q_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q3 — shipping priority: top-10 unshipped orders by revenue.
# Segment filter prunes customer before the join; orders/lineitem carry
# date predicates to the scan. Top-k via TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS o_orderkey,
           CAST(l.rev_c AS DOUBLE)/10000.0 AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM (
      SELECT l_orderkey, SUM({_REV_C_SQL}) AS rev_c
      FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l_orderkey
    ) l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
    ORDER BY l.rev_c DESC, l.l_orderkey
    LIMIT 10
    """,
    cite="TPC-H Q3 shape; join family int_transactions.sql:247-251",
    headline=True,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lineitem pre-aggregates to order grain BEFORE the joins (map-side
    # combinable; the join then matches 1:1 and needs no post-join agg);
    # the order-grain side broadcasts into the orders scan while small
    # (_bc: late-ship filter ≈ half the lines, the agg folds to roughly
    # an eighth of the rows), shuffle join past the cap.
    # Top-k orders by the EXACT integer revenue (TakeOrderedAndProject).
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-03-15"))
    # ORDER-grain sum accumulates in long, not decimal: lines per order
    # are bounded (TPC-H ≤7; order grain generally), so the sum is
    # ≤ ~1e12 at ANY table size — exact, unoverflowable, and ~20%
    # faster than the decimal accumulator (measured at sf1).
    lagg = li.groupBy("l_orderkey").agg(
        F.sum(_rev_c().cast("long")).alias("rev_c")
    )
    return (
        o.join(_bc(c.select("c_custkey"), sf_dir, "customer", 0.2),
               o.o_custkey == F.col("c_custkey"))
        .join(_bc(lagg, sf_dir, "lineitem", 0.125), F.col("l_orderkey") == o.o_orderkey)
        .orderBy(F.col("rev_c").desc(), "l_orderkey")
        .limit(10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            (F.col("rev_c").cast("double") / F.lit(10000.0)).alias("revenue"),
            "o_orderdate", "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# Q4 (adapted: no commitdate) — order priority checking: orders in a
# quarter with at least one line shipped > 60 days after order date.
# EXISTS → left-semi join; agg counts per priority.
# ---------------------------------------------------------------------------
@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
    cite="TPC-H Q4 shape; EXISTS family int_offline_outages.sql:113-124",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS with the quarter's orders as the SMALL side: stream lineitem
    # against the broadcast order slice and dedupe the matched keys —
    # the left_semi spelling made the 6M-row lineitem the build side.
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01")) & (F.col("o_orderdate") < _ts("1997-04-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(
            _bc(o, sf_dir, "orders", 0.04),  # one quarter of ~7 years
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 60 days")),
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: revenue where customer and supplier share
# the nation, one region, one year. nation/region/supplier broadcast; the
# only shuffle is orders⋈lineitem on the order key.
# ---------------------------------------------------------------------------
@query(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n.n_name AS nation_name,
           CAST(SUM({_REV_C_SQL}) AS DOUBLE)/10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    cite="TPC-H Q5 shape; broadcast-dim family int_transactions.sql:250-251",
    headline=True,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lineitem is the STREAM side everywhere: the one-year orders slice
    # (⋈ broadcast customer for its nationkey) broadcasts into the
    # lineitem scan, so the only exchange is the 25-row final agg.
    # Without the orientation fix the static planner broadcast the
    # column-pruned 6M-row lineitem itself — a driver-side hash build of
    # the biggest table (measured 4.3 s vs 1.5 s). Past the _bc cap the
    # slice stops being hinted and the join falls to the co-partitioned
    # shuffle shape, which is correct at cluster scale.
    #
    # The region restriction is pushed into BOTH dim sides BEFORE any
    # fact join (customers and suppliers pre-filtered to ASIA nations):
    # only ~1/5 of customers survive, so the order slice, its broadcast,
    # and the li⋈o2 probe output all shrink 5× before the supplier
    # match — the semi-join reduction DuckDB's optimizer finds on its
    # own, made explicit (sf10 hot: 5.9 → 3.3 s). n_name rides along on
    # the supplier side, which removes the separate nation/region joins.
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name")
    c_asia = c.join(F.broadcast(n_asia.select("n_nationkey")),
                    c.c_nationkey == n_asia.n_nationkey).select("c_custkey", "c_nationkey")
    s_asia = s.join(F.broadcast(n_asia),
                    s.s_nationkey == n_asia.n_nationkey).select(
        "s_suppkey", "s_nationkey", "n_name")
    o2 = o.join(_bc(c_asia, sf_dir, "customer"), o.o_custkey == c_asia.c_custkey).select(
        "o_orderkey", "c_nationkey")
    # cap_rows=5M (vs the 1.5M default): VERDICT r8 closed q5's sf100 gap
    # here. Without the hint the static planner picks a shuffle join and
    # AQE's runtime broadcast conversion arrives too late — both join
    # sides materialize in PARALLEL, so the 600M-row probe-side exchange
    # (~14 GB written to local disk) is already paid when the join is
    # rewired; Spark's injected runtime bloom filter can't save it
    # either (it sizes to expectedNumItems=1M by default and saturates
    # against 22.7M order keys). Measured at sf100: unhinted 22.6 s hot
    # / hinted 8.8 s (o2 = 4.5M rows × 2 longs — the same hash relation
    # AQE itself builds after the wasted shuffle, so the build is proven
    # safe at this size). Beyond ~sf110 the estimate exceeds the cap and
    # the safe AQE fallback returns.
    joined = (
        li.join(_bc(o2, sf_dir, "orders", 0.03, cap_rows=5_000_000),
                li.l_orderkey == o2.o_orderkey)
        .join(F.broadcast(s_asia),
              (li.l_suppkey == s_asia.s_suppkey) & (F.col("c_nationkey") == s_asia.s_nationkey))
    )
    # Two-level exact sum (see pricing_summary): LONG partials per
    # (nation, input-partition) keep the probe-side hot loop in codegen
    # long math; the decimal(28,0) final touches 25×|partitions| rows.
    # A task partition can't hold enough rows to overflow (ANSI throws
    # if it ever did).
    partial = joined.groupBy(
        F.col("n_name").alias("nation_name"), F.spark_partition_id().alias("_p")
    ).agg(F.sum(_rev_c()).alias("rev_p"))
    return partial.groupBy("nation_name").agg(
        (F.sum(F.col("rev_p").cast("decimal(28,0)")).cast("double")
         / F.lit(10_000.0)).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change: single-table scan-filter-agg; every
# predicate reaches the parquet scan, agg is map-side combinable.
# ---------------------------------------------------------------------------
@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    cite="TPC-H Q6 shape; predicate family int_status_changes.sql:54-56",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year. Two broadcast
# nation lookups aliased apart; the cross-pair filter runs post-join.
# ---------------------------------------------------------------------------
@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(rev) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l.l_shipdate) AS l_year, {_REV_SQL} AS rev
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    cite="TPC-H Q7 shape; dual-aliased dim joins (dim_connectors pattern)",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    # Push the two-nation predicate into BOTH dimension sides before any
    # fact is touched: suppliers and customers shrink to the two nations,
    # the filtered customers broadcast into orders, and the resulting
    # order slice broadcasts into the lineitem stream — no fact-fact
    # shuffle remains while the slices fit the _bc cap (≈8% of rows for
    # 2 of 25 nations); past it the joins fall to the shuffle shape.
    n1f = n1.filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2f = n2.filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    o2 = (
        o.join(
            _bc(
                c.join(F.broadcast(n2f), c.c_nationkey == F.col("n2_key"))
                .select("c_custkey", "cust_nation"),
                sf_dir, "customer", 0.08,
            ),
            o.o_custkey == F.col("c_custkey"),
        ).select("o_orderkey", "cust_nation")
    )
    return (
        li.join(
            _bc(
                s.join(F.broadcast(n1f), s.s_nationkey == F.col("n1_key"))
                .select("s_suppkey", "supp_nation"),
                sf_dir, "supplier", 0.08,
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(_bc(o2, sf_dir, "orders", 0.08), F.col("o_orderkey") == li.l_orderkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — national market share: NATION_7's share of ASIA's STANDARD-part
# revenue per year. Ratio of two exact decimal sums via sum(when).
# ---------------------------------------------------------------------------
@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(rev) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year, {_REV_SQL} AS rev,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
    cite="TPC-H Q8 shape; conditional-agg family fact_visits.sql:247-273",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        # Two-year orders slice (~30% of rows) streams
        # into the STANDARD-parts lineitem while under the _bc cap.
        .join(_bc(o, sf_dir, "orders", 0.3), o.o_orderkey == li.l_orderkey)
        .join(_bc(c, sf_dir, "customer"), c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_7", _rev()).otherwise(zero))
                .cast("double")
                / F.sum(_rev()).cast("double")
            ).cast("double").alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 (adapted: no partsupp supplycost) — product-type profit by nation
# and year for ECONOMY parts; profit = revenue.
# ---------------------------------------------------------------------------
@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation_name, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    """,
    cite="TPC-H Q9 shape (supplycost omitted: schema has no partsupp)",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_rev()).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting: top-20 customers by returned revenue in
# a quarter. Exact-decimal top-k with custkey tiebreaker.
# ---------------------------------------------------------------------------
@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, CAST(rev_c AS DOUBLE)/10000.0 AS revenue, nation_name
    FROM (
      SELECT c.c_custkey, c.c_name, SUM({_REV_C_SQL}) AS rev_c, n.n_name AS nation_name
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
        AND o.o_orderdate < TIMESTAMP '1997-10-01'
        AND l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    ORDER BY rev_c DESC, c_custkey
    LIMIT 20
    """,
    cite="TPC-H Q10 shape; top-k + broadcast dims",
    headline=True,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The quarter's orders slice is small → broadcast it into the
    # lineitem stream (AQE demotes past the cap at cluster scale).
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01")) & (F.col("o_orderdate") < _ts("1997-10-01"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    n = load_table(spark, sf_dir, "nation")
    # cap_rows=7M: the q5 lesson (r8) — without the hint the quarter
    # slice (5.8M rows at sf100) SMJ-sorts and shuffles the 150M-row
    # returned-lines slice before AQE can rewire; the static broadcast
    # removes that exchange+sort (sf100 hot 15.3 -> 13.1 s). Then EAGER
    # AGGREGATION below the customer join: c_custkey is unique in the
    # dim, so summing revenue per o_custkey BEFORE the join is exact
    # and shrinks the join's stream side from every matched line to one
    # row per buying customer — the final groupBy collapses to a
    # projection (13.1 -> 11.6 s; the remaining floor is the 5.8M-row
    # broadcast build + 150M-row probe, measured in BASELINE.md r8).
    # Per-customer revenue stays in LONG: overflow would need ~8e9
    # returned lines for one customer (2^63 / 1.1e9-per-row), which no
    # scale factor produces; ANSI mode throws if it ever did.
    rev_by_cust = (
        li.join(_bc(o, sf_dir, "orders", 0.04, cap_rows=7_000_000),
                li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_rev_c()).alias("rev_c"))
    )
    return (
        rev_by_cust.join(c, rev_by_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .orderBy(F.col("rev_c").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name",
                (F.col("rev_c").cast("double") / F.lit(10000.0)).alias("revenue"),
                F.col("n_name").alias("nation_name"))
    )


# ---------------------------------------------------------------------------
# Q12 (adapted: no shipmode/receiptdate) — late-shipment counts per
# priority class: lines shipped > 90 days after order date in one year.
# ---------------------------------------------------------------------------
@query(
    "tpch_q12_late_lines",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           COUNT(*) AS line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY o.o_orderpriority
    """,
    cite="TPC-H Q12 shape (shipmode→priority: schema has no shipmode)",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    ).select("l_orderkey", "l_shipdate")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 90 days"), 1)
                .otherwise(0)
            ).alias("late_count"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution: left join keeps 0-order
# customers; two-level aggregation (per-customer, then histogram).
# ---------------------------------------------------------------------------
@query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    cite="TPC-H Q13 shape; left join + double agg (int_chargers.sql:20 counts)",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q14 — promotion effect: PROMO parts' share of one month's revenue.
# ---------------------------------------------------------------------------
@query(
    "tpch_q14_promo_effect",
    oracle=f"""
    SELECT CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL}
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100
                / CAST(SUM({_REV_SQL}) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
    cite="TPC-H Q14 shape; ratio-of-conditional-sums (fact_uptime.sql:68)",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-09-01")) & (F.col("l_shipdate") < _ts("1997-10-01"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", _rev()).otherwise(zero)).cast("double")
                * F.lit(100)
                / F.sum(_rev()).cast("double")
            ).cast("double").alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier: supplier(s) achieving the max quarterly revenue.
# The per-supplier agg is tiny (|suppliers| rows) → its max is a
# broadcast single-row join, exact decimal equality.
# ---------------------------------------------------------------------------
@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
    cite="TPC-H Q15 shape; scalar-subquery watermark family (§2.4)",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01")) & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = keep((
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).alias("total_rev"))
    ).persist())  # consumed by the max scalar AND the equality filter
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Q17 (adapted: brand+size for brand+container) — small-quantity-order
# revenue: lines under 20% of the part's average quantity. The per-part
# average is a correlated scalar → re-expressed as an agg + equi-join
# (broadcast: |parts| rows).
# ---------------------------------------------------------------------------
@query(
    "tpch_q17_small_qty",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS line_count
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13' AND p.p_size <= 10
      AND l.l_quantity < 0.2 * a.avg_qty
    """,
    cite="TPC-H Q17 shape; correlated-avg → join (int_meter_values stats)",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10)
    ).select("p_partkey")
    part_avg = (
        li.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(part_avg), li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double").alias("avg_yearly"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers: orders whose total quantity exceeds 300.
# HAVING on the order-grain agg, then joins back to customer/orders.
# ---------------------------------------------------------------------------
@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(q.qty_c AS DOUBLE)/100.0 AS total_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(round(l_quantity*100,0) AS BIGINT)) AS qty_c
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity*100,0) AS BIGINT)) > 30000
    ) q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    cite="TPC-H Q18 shape; HAVING-agg semi-join back to facts",
    headline=True,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The HAVING survivor set is tiny (~1% of orders) → broadcast it back
    # into orders while under the _bc cap (the lineitem groupBy is the
    # one real shuffle, map-side combined).
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        # order-grain: bounded lines/order -> exact long sum at any SF
        .agg(F.sum(_c2("l_quantity").cast("long")).alias("qty_c"))
        .filter(F.col("qty_c") > 30_000)
    )
    return (
        o.join(_bc(big, sf_dir, "lineitem", 0.01), o.o_orderkey == big.l_orderkey)
        .join(_bc(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
                (F.col("qty_c").cast("double") / F.lit(100.0)).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Q19 (adapted: size bands for containers) — discounted revenue under
# OR-of-ANDs predicates. Catalyst splits the disjunction across the
# joined scan; part side broadcasts.
# ---------------------------------------------------------------------------
@query(
    "tpch_q19_disc_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS line_count
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE
      (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
      OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
      OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    cite="TPC-H Q19 shape; OR-of-ANDs predicate pushdown",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(10, 25) & qty.between(10, 20))
        | ((brand == "Brand#34") & size.between(20, 35) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 (adapted: no receipt/commit dates) — suppliers implicated in
# late multi-supplier orders: in finished ('F') orders with ≥2 distinct
# suppliers, blame the supplier(s) whose latest line equals the order's
# latest ship date. Top-20 by blame count.
# ---------------------------------------------------------------------------
@query(
    "tpch_q21_blamed_suppliers",
    oracle="""
    WITH order_stats AS (
      SELECT l.l_orderkey, MAX(l.l_shipdate) AS order_max_ship,
             COUNT(DISTINCT l.l_suppkey) AS supp_count
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey
    ),
    supp_last AS (
      SELECT l.l_orderkey, l.l_suppkey, MAX(l.l_shipdate) AS supp_max_ship
      FROM lineitem l GROUP BY l.l_orderkey, l.l_suppkey
    )
    SELECT s.s_name, blame_count FROM (
      SELECT sl.l_suppkey, COUNT(*) AS blame_count
      FROM supp_last sl
      JOIN order_stats os ON os.l_orderkey = sl.l_orderkey
      WHERE os.supp_count >= 2 AND sl.supp_max_ship = os.order_max_ship
      GROUP BY sl.l_suppkey
    ) b
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    ORDER BY blame_count DESC, s.s_name
    LIMIT 20
    """,
    cite="TPC-H Q21 shape (ship-date blame: schema has no receiptdate)",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass shape (5.1 s → 1.5 s at sf1): order_stats is derivable
    # FROM the per-(order,supplier) aggregate — supp_count = COUNT(*) and
    # order_max_ship = MAX(supp_max_ship) over the order — so one groupBy
    # plus one window replaces the oracle's two full lineitem aggregations
    # and the 5M-row fact-fact join between them. The F-order semi-join
    # runs FIRST (broadcast of bare order keys; AQE demotes at cluster
    # scale), which is equivalent because every surviving group belongs
    # to an F order in both formulations.
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # F-status row selectivity ≈ half the orders.
    li_f = li.join(_bc(o, sf_dir, "orders", 0.5), li.l_orderkey == o.o_orderkey, "left_semi")
    supp_last = li_f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max_ship")
    )
    w = W.partitionBy("l_orderkey")
    stats = (
        supp_last
        .withColumn("supp_count", F.count(F.lit(1)).over(w))
        .withColumn("order_max_ship", F.max("supp_max_ship").over(w))
    )
    return (
        stats.filter(
            (F.col("supp_count") >= 2)
            & (F.col("supp_max_ship") == F.col("order_max_ship"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("blame_count"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .orderBy(F.col("blame_count").desc(), "s_name")
        .limit(20)
        .select("s_name", "blame_count")
    )


# ---------------------------------------------------------------------------
# Q22 (adapted: nation for phone-prefix) — global sales opportunity:
# customers with above-average positive balance and no orders, by
# nation. Scalar subquery → driver-side literal would also work; here
# the single-row avg broadcasts.
# ---------------------------------------------------------------------------
@query(
    "tpch_q22_sales_opportunity",
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    cite="TPC-H Q22 shape; scalar subquery + anti-join",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal), c.c_acctbal > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Skew machinery under the driver gate: salted_join + salted_groupby_agg
# must be row-for-row equivalent to the plain join+aggregate — salting
# is a physical rewrite, never a semantic one. The oracle is the PLAIN
# SQL; any fabricated/dropped row under the salt explode or a broken
# two-stage merge breaks the value hash. (Measured salting-vs-AQE
# tradeoffs live in operators/skew.py + BASELINE.md.)
# ---------------------------------------------------------------------------
@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT l.l_suppkey AS suppkey, s.s_name,
           CAST(SUM(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS qty_c,
           COUNT(*) AS line_count
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
    cite="skew-safe join/agg (operators/skew.py salted_join + "
    "salted_groupby_agg; equivalence is the contract)",
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.skew import salted_groupby_agg, salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", _c2("l_quantity").alias("qty_c_row")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, s, ["l_suppkey"], salt=8)
    out = salted_groupby_agg(
        joined,
        ["l_suppkey", "s_name"],
        {"qty_c": ("sum", "qty_c_row"), "line_count": ("count", "l_suppkey")},
        salt=8,
    )
    return out.select(
        F.col("l_suppkey").alias("suppkey"), "s_name", "qty_c", "line_count"
    )
