"""Relational operator coverage on the TPC-H-ish testdata tables.

Each query exercises one operator family from SURVEY.md §2 (scan/filter/
project §2.2, joins §2.3, aggregations §2.4, set ops §2.6, scalars §2.7),
re-expressed over the driver's tables. Citations point at the reference
model whose operator shape the query mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import surrogate_key
from kwwhat_spark.queries.catalog import query
from kwwhat_spark.sources.testdata import load_table


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


def _c2(c):
    """2-decimal-place money/ratio column → integer hundredths (long).

    Money arithmetic in integer units keeps the per-row math in long
    codegen (measured 3× the decimal chain at sf1) while staying exact:
    products of hundredths are bounded ~1e11 per row, far inside int64.
    The SUM accumulates decimal(28,0) — exact and unoverflowable at any
    scale factor (1e11/row × 1e15 rows < 1e28) — and only the final
    projection casts to double, so both engines round the same exact
    integer once. DuckDB mirrors with CAST(round(c*100,0) AS BIGINT)
    products summed into HUGEINT.
    """
    return F.round(F.col(c) * 100, 0).cast("long")


def _dec_final(c: str, scale: int):
    """Final-level exact sum of long partials → double at the scale."""
    return F.sum(F.col(c).cast("decimal(28,0)")).cast("double") / F.lit(float(scale))


# ---------------------------------------------------------------------------
# §2.1/§2.4 — scan → hash aggregation (flagship; TPC-H Q1 shape).
# Mirrors the reference's transaction rollup (int_transactions.sql:118-145):
# wide fact scan, group by low-cardinality keys, min/max/sum/avg/count.
# Scale notes: pure map-side-combinable agg over a pruned 7-column scan;
# shuffle carries only |flags|×|status| rows per partition.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT)) * (100 + CAST(round(l_tax*100,0) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      (CAST(SUM(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0) / COUNT(*) AS avg_qty,
      (CAST(SUM(CAST(round(l_discount*100,0) AS BIGINT)) AS DOUBLE)/100.0) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    cite="int_transactions.sql:118-145 (rollup agg family)",
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level exact rollup: per-(group, input-partition) LONG partial
    sums — the per-row hot path stays in whole-stage-codegen long math —
    then decimal(28,0) finals over |groups|×|partitions| tiny rows.
    Exact at ANY total scale: a single task partition is bounded by
    maxPartitionBytes (~4M rows), so partial sums peak ~4e6 × 1.1e11 «
    2^63 per partition regardless of dataset size, and ANSI mode throws
    on the impossible overflow instead of wrapping. Measured 1.9× the
    one-level decimal accumulator at sf10, bit-identical output
    (BASELINE.md round 6)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price, disc, tax = _c2("l_quantity"), _c2("l_extendedprice"), _c2("l_discount"), _c2("l_tax")
    partial = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("_p"))
        .agg(
            F.sum(qty).alias("q"),
            F.sum(price).alias("b"),
            F.sum(price * (100 - disc)).alias("d"),
            F.sum(price * (100 - disc) * (100 + tax)).alias("ch"),
            F.sum(disc).alias("di"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return partial.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_final("q", 100).alias("sum_qty"),
        _dec_final("b", 100).alias("sum_base_price"),
        _dec_final("d", 10_000).alias("sum_disc_price"),
        _dec_final("ch", 1_000_000).alias("sum_charge"),
        (_dec_final("q", 100) / F.sum("n")).alias("avg_qty"),
        (_dec_final("di", 100) / F.sum("n")).alias("avg_disc"),
        F.sum("n").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# §2.2 — projection + selective predicate; must reach the parquet scan as
# PushedFilters. Mirrors the action filter (int_status_changes.sql:54-56).
# ---------------------------------------------------------------------------
@query(
    "filter_pushdown",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    cite="int_status_changes.sql:54-56; int_transactions.sql:10-13 (IN filter)",
)
def filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.3 — broadcast dimension joins (charger→location resolution family,
# int_transactions.sql:250-251). nation/region are tiny → broadcast.
# ---------------------------------------------------------------------------
@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS customer_count,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    cite="int_transactions.sql:247-251 (connector→port→location broadcast joins)",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 — large fact⋈fact equi-join (shuffle on key, AQE-managed).
# ---------------------------------------------------------------------------
@query(
    "join_fact_fact",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS order_count,
           CAST(SUM(l.rev_c) AS DOUBLE)/10000.0 AS revenue
    FROM orders o
    JOIN (
      SELECT l_orderkey,
             SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)
                 * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS rev_c
      FROM lineitem GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY o.o_orderpriority
    """,
    cite="int_meter_values.sql:110-116 (fact-to-fact key join)",
    headline=True,
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # COUNT(DISTINCT o_orderkey) over the raw join = COUNT(*) after
    # pre-aggregating lineitem to order grain: same semantics, but the
    # shuffle carries one row per order instead of one per line and the
    # final agg needs no distinct expand. The order-grain partial agg is
    # the shape that survives 100 TB (map-side combine on l_orderkey).
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = _c2("l_extendedprice") * (100 - _c2("l_discount"))
    # Order-grain partial sum in long (bounded lines/order -> exact at
    # any SF); only the cross-order re-aggregation widens to decimal,
    # so the 6M-row stage runs the cheap accumulator and the wide one
    # touches one row per order.
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum(rev_c.cast("long")).alias("rev_c"))
    )
    # Two-level final (see pricing_summary): LONG partials per
    # (priority, partition) over the joined order-grain stream — a task
    # partition of per-order longs (<= ~7.7e9 each) cannot overflow —
    # then the decimal(28,0) widening touches 5×|partitions| rows.
    partial = (
        o.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        .join(per_order, o.o_orderkey == per_order.l_orderkey)
        .groupBy("o_orderpriority", F.spark_partition_id().alias("_p"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rev_c").alias("rev_p"))
    )
    return partial.groupBy("o_orderpriority").agg(
        F.sum("n").alias("order_count"),
        (F.sum(F.col("rev_p").cast("decimal(28,0)")).cast("double")
         / F.lit(10000.0)).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# §2.3 — anti-join (NOT EXISTS: chargers with no messages,
# int_offline_outages.sql:113-124) → customers with no orders.
# ---------------------------------------------------------------------------
@query(
    "anti_join_no_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    cite="int_offline_outages.sql:113-124 (NOT EXISTS anti-join)",
)
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# §2.4 — count-distinct of composites (fact_location_capacity.sql:22-28).
# ---------------------------------------------------------------------------
@query(
    "capacity_count_distinct",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(DISTINCT c.c_nationkey) AS nation_count,
           COUNT(DISTINCT c.c_nationkey || '|' || CAST(o.o_orderstatus AS VARCHAR)) AS nation_status_count,
           COUNT(*) AS row_count
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    cite="fact_location_capacity.sql:22-28 (composite count-distinct)",
)
def capacity_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("nation_count"),
            F.countDistinct(
                F.concat_ws("|", F.col("c_nationkey"), F.col("o_orderstatus"))
            ).alias("nation_status_count"),
            F.count(F.lit(1)).alias("row_count"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 — surrogate keys: exact dbt_utils.generate_surrogate_key formula
# (fact_charge_attempts.sql:232-241). Verified cross-engine via md5.
# ---------------------------------------------------------------------------
@query(
    "surrogate_keys",
    oracle="""
    SELECT
      md5(COALESCE(CAST(o_orderkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')
          || '-' ||
          COALESCE(CAST(o_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')
          || '-' ||
          COALESCE(CAST(o_orderstatus AS VARCHAR), '_dbt_utils_surrogate_key_null_')
      ) AS order_key_hash,
      o_orderkey
    FROM orders
    WHERE o_orderkey < 1000
    """,
    cite="fact_charge_attempts.sql:232-241; fact_visits.sql:433-439 (surrogate keys)",
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 1000)
        .select(
            surrogate_key("o_orderkey", "o_custkey", "o_orderstatus").alias("order_key_hash"),
            "o_orderkey",
        )
    )


# ---------------------------------------------------------------------------
# §2.6 — union all + distinct (buffer∪new family, int_status_changes.sql:119).
# ---------------------------------------------------------------------------
@query(
    "union_branches",
    oracle="""
    SELECT o_custkey, branch FROM (
      SELECT DISTINCT o_custkey, 'urgent' AS branch FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT DISTINCT o_custkey, 'open' AS branch FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    cite="int_status_changes.sql:119; fact_downtime_daily.sql:70-74 (union all)",
)
def union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey").distinct()
        .withColumn("branch", F.lit("urgent"))
    )
    open_ = (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey").distinct()
        .withColumn("branch", F.lit("open"))
    )
    return urgent.unionByName(open_)


# ---------------------------------------------------------------------------
# §2.3 — calendar explosion: interval × day without a range join
# (fact_downtime_daily.sql:76-83 rewritten as sequence+explode, SURVEY §4).
# Order lifetime (orderdate → max shipdate) split per calendar month.
# ---------------------------------------------------------------------------
@query(
    "calendar_explode",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey, o.o_orderdate,
             greatest(MAX(l.l_shipdate), o.o_orderdate) AS last_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey < 300
      GROUP BY o.o_orderkey, o.o_orderdate
    )
    SELECT CAST(d.day AS DATE) AS active_day, COUNT(*) AS active_orders
    FROM spans, LATERAL (
      SELECT UNNEST(generate_series(CAST(o_orderdate AS DATE), CAST(last_ship AS DATE), INTERVAL 1 DAY)) AS day
    ) d
    GROUP BY 1
    """,
    cite="fact_downtime_daily.sql:76-83; fact_charger_commissioned_daily.sql:30-41 (calendar explode)",
)
def calendar_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.filter(F.col("o_orderkey") < 300)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.greatest(F.max("l_shipdate"), F.first("o_orderdate")).alias("last_ship"))
    )
    return (
        spans.select(
            F.explode(
                F.sequence(
                    F.to_date("o_orderdate"), F.to_date("last_ship"),
                    F.expr("interval 1 day"),
                )
            ).alias("active_day")
        )
        .groupBy("active_day")
        .agg(F.count(F.lit(1)).alias("active_orders"))
    )
