"""TPC-H and SQL-semantics gate queries: paired (Spark query, DuckDB
oracle SQL) over the driver's TPC-H tables.

Aggregates, joins, windows (row, RANGE and cumulative-distribution
frames), set operations, ROLLUP / CUBE / GROUPING SETS, PIVOT /
UNPIVOT, correlated scalar and nested (NOT) EXISTS subqueries, and
NULL / date semantics. Same cross-engine determinism rules as
:mod:`suite` (decimal-cast sums, identical fold order for float
reductions, explicit tie-breaks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import (
    SQL_DAVG,
    SQL_DSUM,
    _t,
    davg,
    dsum,
)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Partial (map-side) aggregation +
    single shuffle on a low-cardinality key — the canonical scale-safe
    aggregate."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {SQL_DSUM.format(x='l_quantity')} AS sum_qty,
  {SQL_DSUM.format(x='l_extendedprice')} AS sum_base_price,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {SQL_DAVG.format(x='l_quantity')} AS avg_qty,
  {SQL_DAVG.format(x='l_extendedprice')} AS avg_price,
  {SQL_DAVG.format(x='l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join. Dimension tables (region/nation/
    customer) are broadcast; only the lineitem⋈orders join shuffles —
    the plan that survives 100 TB."""
    region = spark.read.parquet(_t(sf_dir, "region"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    customer = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name", "n_name")
    )


SQL_REVENUE_BY_NATION = f"""
SELECT r_name, n_name,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-k (tie-break on key)."""
    part = spark.read.parquet(_t(sf_dir, "part"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(20)
    )


SQL_TOP_PARTS = f"""
SELECT p_partkey, p_name, p_brand,
  {SQL_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_orders
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name, p_brand
ORDER BY revenue DESC, p_partkey
LIMIT 20
"""


def q_customer_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer order sequence + lag + running sum.
    Single shuffle on the partition key; no global sort."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = (
        orders.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prev_price",
            F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
        )
        .withColumn(
            "running_spend",
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .over(w)
            .cast("double"),
        )
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "rn", "o_orderkey", "o_totalprice", "prev_price",
            "running_spend",
        )
        .orderBy("o_custkey", "rn")
    )
    return out


SQL_CUSTOMER_ORDER_WINDOW = """
SELECT o_custkey, rn, o_orderkey, o_totalprice, prev_price, running_spend
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER w AS rn,
    COALESCE(LAG(o_totalprice) OVER w, 0.0) AS prev_price,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_spend
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def q_part_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: large-size parts EXCEPT those with a high-quantity
    returned lineitem; the INTERSECT leg exercises both set operators.

    Granularity note: at brand level the difference is empty at every SF
    (all 25 brands have returned rows — a vacuously-green gate), so the
    sets live at part granularity with the returned side restricted to
    ``l_quantity >= 45``: non-empty and non-trivial at sf0.01 (125 of
    440 large parts) and sf0.1 (1346 of 4335)."""
    part = spark.read.parquet(_t(sf_dir, "part"))
    lineitem = spark.read.parquet(_t(sf_dir, "lineitem"))
    returned_parts = (
        lineitem.filter(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45)
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand")
        .distinct()
    )
    large = (
        part.filter(F.col("p_size") >= 40)
        .select("p_partkey", "p_brand")
        .distinct()
    )
    return large.exceptAll(
        large.intersect(returned_parts)
    ).orderBy("p_partkey")


SQL_PART_SETOPS = """
(SELECT DISTINCT p_partkey, p_brand FROM part WHERE p_size >= 40)
EXCEPT
((SELECT DISTINCT p_partkey, p_brand FROM part WHERE p_size >= 40)
 INTERSECT
 (SELECT DISTINCT p_partkey, p_brand FROM part JOIN lineitem ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND l_quantity >= 45))
ORDER BY p_partkey
"""


def q_pricing_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregation per return flag: variance, skewness
    and excess kurtosis derived from DECIMAL-exact power sums (Σx..Σx⁴
    of l_quantity). Built-in skewness/kurtosis differ between engines
    (sample vs population corrections), so the moments are computed
    from the same order-independent sums with one shared formula —
    map-side partial aggregation still applies (sums are algebraic)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    x = F.col("l_quantity")

    def psum(expr):
        return F.sum(expr.cast("decimal(28,6)")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        psum(x).alias("s1"),
        psum(x * x).alias("s2"),
        psum(x * x * x).alias("s3"),
        psum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - F.lit(3.0) * m * (s2 / n) + F.lit(2.0) * m * m * m
    m4 = (
        s4 / n
        - F.lit(4.0) * m * (s3 / n)
        + F.lit(6.0) * m * m * (s2 / n)
        - F.lit(3.0) * m * m * m * m
    )
    return agg.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(m, 6).alias("mean"),
        F.round(m2, 6).alias("variance"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


_PSUM = "CAST(SUM(CAST({x} AS DECIMAL(28,6))) AS DOUBLE)"


SQL_PRICING_MOMENTS = f"""
WITH a AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_PSUM.format(x="l_quantity")} AS s1,
    {_PSUM.format(x="l_quantity * l_quantity")} AS s2,
    {_PSUM.format(x="l_quantity * l_quantity * l_quantity")} AS s3,
    {_PSUM.format(x="l_quantity * l_quantity * l_quantity * l_quantity")} AS s4
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n,
  ROUND(s1 / n, 6) AS mean,
  ROUND(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
  ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n)
         + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
  ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n)))
        - 3.0, 6) AS kurtosis_excess
FROM a
ORDER BY l_returnflag
"""


# TPC-H Q17-shaped: one SQL text for BOTH engines. The correlated
# scalar subquery is what's under test on the Spark side — Catalyst
# decorrelates it into an aggregate-then-join (one shuffle on partkey +
# broadcast of the small part side) instead of a per-row re-scan.
# Threshold arithmetic is exact cross-engine: integer-valued doubles
# sum exactly below 2^53, so AVG and 0.2*AVG are bit-identical.
SQL_BELOW_AVG_REVENUE = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS below_thresh_revenue,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
  SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = p_partkey
)
GROUP BY p_brand
ORDER BY p_brand
"""


def q_below_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern (small-quantity revenue below 20% of the
    per-part average) via a correlated scalar subquery — the identical
    SQL string is the DuckDB oracle, so this gate row checks Catalyst's
    subquery decorrelation end to end."""
    spark.read.parquet(_t(sf_dir, "lineitem")).createOrReplaceTempView(
        "lineitem"
    )
    spark.read.parquet(_t(sf_dir, "part")).createOrReplaceTempView("part")
    return spark.sql(SQL_BELOW_AVG_REVENUE)


def q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four grouping sets from one Expand +
    hash-aggregate pass — completes the grouping-set trio beside
    ROLLUP (order_rollup) and plain GROUP BY."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


SQL_ORDER_CUBE = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x="o_totalprice")} AS total_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


_PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def q_order_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order revenue by status × priority, priorities as columns
    (explicit value list so the plan needs no distinct-values pre-scan;
    Spark compiles pivot to CASE-filtered aggregates — the oracle spells
    out the same CASE sums)."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PIVOT_PRIORITIES)
        .agg(dsum(F.col("o_totalprice")))
        .orderBy("o_orderstatus")
    )
    renames = {p: f"rev_{p[0]}" for p in _PIVOT_PRIORITIES}
    return out.select(
        "o_orderstatus",
        *[F.col(f"`{p}`").alias(renames[p]) for p in _PIVOT_PRIORITIES],
    )


SQL_ORDER_PIVOT = f"""
SELECT o_orderstatus,
  {", ".join(
    "CAST(SUM(CASE WHEN o_orderpriority = '%s' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS rev_%s"
    % (p, p[0])
    for p in _PIVOT_PRIORITIES
  )}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_customer_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — NTILE quartiles and PERCENT_RANK
    over per-customer order totals, then quartile-level aggregates.
    Covers the remaining window-function class (the suite already
    exercises rank, offset, sliding and cumulative frames)."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    per_cust = orders.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("cust_total")
    )
    w = Window.orderBy("cust_total", "o_custkey")
    tiled = per_cust.select(
        "o_custkey",
        "cust_total",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("cust_total")).alias("quartile_total"),
            F.round(F.min("pr"), 6).alias("pr_min"),
            F.round(F.max("pr"), 6).alias("pr_max"),
        )
        .orderBy("quartile")
    )


SQL_CUSTOMER_NTILES = f"""
WITH per_cust AS (
  SELECT o_custkey, {SQL_DSUM.format(x="o_totalprice")} AS cust_total
  FROM orders GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, cust_total,
         NTILE(4) OVER w AS quartile,
         ROUND(PERCENT_RANK() OVER w, 6) AS pr
  FROM per_cust
  WINDOW w AS (ORDER BY cust_total, o_custkey)
)
SELECT quartile, COUNT(*) AS n,
       {SQL_DSUM.format(x="cust_total")} AS quartile_total,
       ROUND(MIN(pr), 6) AS pr_min,
       ROUND(MAX(pr), 6) AS pr_max
FROM tiled
GROUP BY quartile
ORDER BY quartile
"""


def q_pricing_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per return flag: Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation
    definition, so values match exactly. Single shuffle on a
    3-value key; at scale the exact percentile's per-group sort is the
    cost — the approx_percentile/t-digest path is the 100 TB variant
    (engine-specific sketch, hence not oracle-checked)."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(l_discount, 0.25)"), 6).alias("disc_p25"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


SQL_PRICING_QUANTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_discount, 0.25), 6) AS disc_p25,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(status, priority): detail,
    subtotal and grand-total rows from ONE Expand + hash-aggregate pass
    (a single shuffle on the expanded grouping keys). Rolled-up keys are
    COALESCEd to a sentinel on both engines so the value hash is
    null-free and sort-stable."""
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


SQL_ORDER_ROLLUP = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       {SQL_DSUM.format(x="o_totalprice")} AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def q_customer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (SURVEY §2.3): per nation, customers
    with ≥1 order vs customers with none. Both joins broadcast the
    distinct-key side at this scale; at 100 TB they become shuffled
    hash semi-joins — either way no data from the probe side is
    duplicated (semi/anti never multiply rows)."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    cond = F.col("c_custkey") == F.col("o_custkey")
    with_o = cust.join(orders, cond, "left_semi")
    without_o = cust.join(orders, cond, "left_anti")
    a = with_o.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_with_orders")
    )
    b = without_o.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_without_orders")
    )
    return (
        a.join(b, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias(
                "n_without_orders"
            ),
        )
        .orderBy("c_nationkey")
    )


SQL_CUSTOMER_SEMI_ANTI = """
SELECT c_nationkey,
  COUNT(*) FILTER (WHERE EXISTS
    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    AS n_with_orders,
  COUNT(*) FILTER (WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    AS n_without_orders
FROM customer c
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_blame_supplier(spark, sf_dir):
    """Gate query: the TPC-H Q21 'suppliers who kept waiting' shape —
    for multi-supplier orders, blame the supplier whose line was the
    ONLY late line (shipdate > orderdate + 60 days). Exercises nested
    correlated EXISTS (a left-semi join on the order key) and NOT
    EXISTS (a left-anti join on (order, late)) back to back; both
    planned as hash joins against the one shared late-flagged line
    relation, never correlated re-execution.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    flagged = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr(
                "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY"
                " THEN 1 ELSE 0 END"
            ).alias("late"),
        )
        .localCheckpoint(eager=True)
    )
    s1 = flagged.filter(F.col("late") == 1).alias("s1")
    other = flagged.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    ).alias("s2")
    other_late = (
        flagged.filter(F.col("late") == 1)
        .select(
            F.col("l_orderkey").alias("ok3"),
            F.col("l_suppkey").alias("sk3"),
        )
        .alias("s3")
    )
    has_other = s1.join(
        other,
        (F.col("s1.l_orderkey") == F.col("ok2"))
        & (F.col("s1.l_suppkey") != F.col("sk2")),
        "left_semi",
    )
    blamed = has_other.join(
        other_late,
        (F.col("l_orderkey") == F.col("ok3"))
        & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    top = (
        blamed.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "suppkey")
        .limit(20)
    )
    return top.orderBy(F.desc("n_orders"), "suppkey")


SQL_BLAME_SUPPLIER = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT s1.l_suppkey AS suppkey,
       COUNT(DISTINCT s1.l_orderkey) AS n_orders
FROM li s1
WHERE s1.late = 1
  AND EXISTS (SELECT 1 FROM li s2 WHERE s2.l_orderkey = s1.l_orderkey
              AND s2.l_suppkey <> s1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li s3 WHERE s3.l_orderkey = s1.l_orderkey
                  AND s3.l_suppkey <> s1.l_suppkey AND s3.late = 1)
GROUP BY 1
ORDER BY n_orders DESC, suppkey
LIMIT 20
"""


def q_balance_cume_dist(spark, sf_dir):
    """Gate query: cumulative-distribution window coverage — per
    market segment, each customer decile's exact cume_dist and
    percent_rank surfaced as integer ppm (rank arithmetic over the
    (acctbal, custkey) total order, so no float rank fractions under
    the hash). One segment-keyed window; deciles reduce the output to
    10 rows per segment.
    """
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_mktsegment").orderBy(
        "c_acctbal", "c_custkey"
    )
    n = Window.partitionBy("c_mktsegment")
    ranked = cust.select(
        "c_mktsegment",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    ).select(
        "c_mktsegment",
        "rn",
        "n",
        # rn is INT (row_number); widen before the ppm scale-up —
        # rn * 1e6 overflows int32 past ~2147 rows per segment
        F.expr("(CAST(rn AS BIGINT) - 1) * 10 div n").alias("decile"),
        F.expr("CAST(rn AS BIGINT) * 1000000 div n").alias("cume_ppm"),
        F.expr(
            "CASE WHEN n > 1"
            " THEN (CAST(rn AS BIGINT) - 1) * 1000000 div (n - 1)"
            " ELSE 0 END"
        ).alias("prank_ppm"),
    )
    return (
        ranked.groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("cume_ppm").alias("max_cume_ppm"),
            F.min("prank_ppm").alias("min_prank_ppm"),
        )
        .orderBy("c_mktsegment", "decile")
    )


SQL_BALANCE_CUME_DIST = """
WITH ranked AS (
  SELECT c_mktsegment,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer
),
d AS (
  SELECT c_mktsegment,
         (rn - 1) * 10 // n AS decile,
         rn * 1000000 // n AS cume_ppm,
         CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1)
              ELSE 0 END AS prank_ppm
  FROM ranked
)
SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile,
       COUNT(*) AS n_rows,
       CAST(MAX(cume_ppm) AS BIGINT) AS max_cume_ppm,
       CAST(MIN(prank_ppm) AS BIGINT) AS min_prank_ppm
FROM d
GROUP BY c_mktsegment, decile
ORDER BY c_mktsegment, decile
"""


def q_rolling_range_frame(spark, sf_dir):
    """Gate query: VALUE-based window frames (RANGE BETWEEN k
    PRECEDING AND k FOLLOWING) — the one frame class the suite had
    not yet exercised. Per order of a constant customer slice
    (o_custkey < 300): the customer's ±30-day revenue neighborhood
    (DECIMAL-exact sum + count over an integer epoch-day RANGE
    frame). Range frames are set-valued per row, so ties in the
    ordering column contribute identically in both engines.

    Scale posture: per-customer partitions, frame bounded by the
    customer's ±30-day order density; the slice cap keeps the gate
    output constant."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") < 300
    )
    days = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
    )
    src = orders.select(
        "o_custkey",
        "o_orderkey",
        days.alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-30, 30)
    )
    return (
        src.select(
            "o_custkey",
            "o_orderkey",
            "day",
            F.round(F.sum("p").over(w).cast("double"), 2).alias(
                "window_total"
            ),
            F.count(F.lit(1)).over(w).alias("n_in_window"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


SQL_ROLLING_RANGE_FRAME = """
WITH src AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE o_custkey < 300
)
SELECT o_custkey, o_orderkey, day,
       ROUND(CAST(SUM(p) OVER w AS DOUBLE), 2) AS window_total,
       COUNT(*) OVER w AS n_in_window
FROM src
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""


def q_grouping_sets_revenue(spark, sf_dir):
    """Gate query: explicit GROUPING SETS with GROUPING()
    disambiguation — the generalization of the covered ROLLUP/CUBE
    operators: four deliberate aggregation grains ((flag, status),
    (flag), (status), ()) in one pass, grain identified by the
    grouping bitmask instead of NULL-ambiguity. Declared in SQL on
    both sides; Catalyst expands to a single Expand + hash aggregate
    (one scan, map-side combined)."""
    return spark.sql(f"""
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM parquet.`{sf_dir}/lineitem.parquet`
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
ORDER BY gid, flag, status
""")


SQL_GROUPING_SETS_REVENUE = """
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
ORDER BY gid, flag, status
"""


def q_unpivot_profile(spark, sf_dir):
    """Gate query: UNPIVOT (relational melt — the pandas stack/melt
    the reference's dataframe surface implies) of lineitem's four
    measure columns to (measure, value) rows, then a per-measure
    profile: n, DECIMAL-exact sum, extrema. Spark's Expand-based
    unpivot and DuckDB's UNPIVOT must agree exactly.

    Plan: one scan, Expand (4 rows per input, scan-local), one 4-row
    aggregation — no join, no window."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    m = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return (
        m.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
            F.round(F.min("value"), 6).alias("mn"),
            F.round(F.max("value"), 6).alias("mx"),
        )
        .orderBy("measure")
    )


SQL_UNPIVOT_PROFILE = """
WITH m AS (
  UNPIVOT (
    SELECT l_quantity, l_extendedprice, l_discount, l_tax
    FROM lineitem
  ) ON l_quantity, l_extendedprice, l_discount, l_tax
  INTO NAME measure VALUE value
)
SELECT measure, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
       ROUND(MIN(value), 6) AS mn,
       ROUND(MAX(value), 6) AS mx
FROM m
GROUP BY measure
ORDER BY measure
"""


def q_null_semantics(spark, sf_dir):
    """Gate query: NULL-semantics parity probe — the places engines
    classically diverge, all under one hash: NULL group keys (one
    group, not dropped), COUNT(*) vs COUNT(col) vs COUNT(DISTINCT)
    under NULLs, null-skipping SUM/AVG, null-propagating arithmetic,
    and NULL-SAFE equality (Spark <=> vs DuckDB IS NOT DISTINCT
    FROM). NULLs are derived deterministically with NULLIF so the
    probe runs on any snapshot."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.expr("NULLIF(o_orderpriority, '3-MEDIUM')").alias("x"),
        F.expr("NULLIF(o_custkey % 5, 2)").alias("y"),
    )
    return (
        o.groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("y").alias("n_y"),
            F.count_distinct(F.col("y")).alias("nd_y"),
            F.sum("y").alias("sum_y"),
            F.sum(F.expr("y + 1")).alias("sum_y_plus1"),
            F.sum(
                F.expr("CASE WHEN y <=> 3 THEN 1 ELSE 0 END")
            ).alias("n_eq3_nullsafe"),
            F.sum(
                F.expr("CASE WHEN y <=> NULL THEN 1 ELSE 0 END")
            ).alias("n_is_null_nullsafe"),
        )
        .select(
            F.coalesce("x", F.lit("<NULL>")).alias("x_key"),
            "n_rows",
            "n_y",
            "nd_y",
            F.coalesce("sum_y", F.lit(0)).cast("long").alias("sum_y"),
            F.coalesce("sum_y_plus1", F.lit(0))
            .cast("long")
            .alias("sum_y_plus1"),
            F.col("n_eq3_nullsafe").cast("long"),
            F.col("n_is_null_nullsafe").cast("long"),
        )
        .orderBy("x_key")
    )


SQL_NULL_SEMANTICS = """
WITH o AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS x,
         NULLIF(o_custkey % 5, 2) AS y
  FROM orders
),
g AS (
  SELECT x, COUNT(*) AS n_rows, COUNT(y) AS n_y,
         COUNT(DISTINCT y) AS nd_y,
         SUM(y) AS sum_y, SUM(y + 1) AS sum_y_plus1,
         SUM(CASE WHEN y IS NOT DISTINCT FROM 3 THEN 1 ELSE 0 END)
           AS n_eq3_nullsafe,
         SUM(CASE WHEN y IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
           AS n_is_null_nullsafe
  FROM o GROUP BY x
)
SELECT COALESCE(x, '<NULL>') AS x_key, n_rows, n_y, nd_y,
       CAST(COALESCE(sum_y, 0) AS BIGINT) AS sum_y,
       CAST(COALESCE(sum_y_plus1, 0) AS BIGINT) AS sum_y_plus1,
       CAST(n_eq3_nullsafe AS BIGINT) AS n_eq3_nullsafe,
       CAST(n_is_null_nullsafe AS BIGINT) AS n_is_null_nullsafe
FROM g
ORDER BY x_key
"""


def q_date_semantics(spark, sf_dir):
    """Gate query: date-function parity probe — each engine's NATIVE
    calendar functions under one hash: month truncation, last-day
    (month-end clamping), quarter extraction, and integer month
    arithmetic against a fixed epoch. Monthly order census with all
    four beside the counts."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.to_date("o_orderdate").alias("d")
    )
    return (
        o.groupBy(F.date_trunc("month", "d").cast("date").alias("month"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("month").cast("string").alias("month"),
            "n",
            F.last_day("month").cast("string").alias("month_end"),
            F.quarter("month").alias("q"),
            (
                (F.year("month") - F.lit(1990)) * 12
                + F.month("month") - F.lit(1)
            ).alias("months_since_1990"),
        )
        .orderBy("month")
    )


SQL_DATE_SEMANTICS = """
WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
g AS (
  SELECT CAST(date_trunc('month', d) AS DATE) AS month, COUNT(*) AS n
  FROM o GROUP BY 1
)
SELECT CAST(month AS VARCHAR) AS month, n,
       CAST(last_day(month) AS VARCHAR) AS month_end,
       CAST(EXTRACT(quarter FROM month) AS INT) AS q,
       CAST((EXTRACT(year FROM month) - 1990) * 12
            + EXTRACT(month FROM month) - 1 AS INT)
         AS months_since_1990
FROM g
ORDER BY month
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "top_parts_by_revenue": (q_top_parts_by_revenue, SQL_TOP_PARTS),
    "customer_order_window": (
        q_customer_order_window,
        SQL_CUSTOMER_ORDER_WINDOW,
    ),
    "part_setops": (q_part_setops, SQL_PART_SETOPS),
    "order_rollup": (q_order_rollup, SQL_ORDER_ROLLUP),
    "pricing_quantiles": (q_pricing_quantiles, SQL_PRICING_QUANTILES),
    "below_avg_revenue": (q_below_avg_revenue, SQL_BELOW_AVG_REVENUE),
    "pricing_moments": (q_pricing_moments, SQL_PRICING_MOMENTS),
    "order_cube": (q_order_cube, SQL_ORDER_CUBE),
    "customer_ntiles": (q_customer_ntiles, SQL_CUSTOMER_NTILES),
    "order_pivot": (q_order_pivot, SQL_ORDER_PIVOT),
    "customer_semi_anti": (q_customer_semi_anti, SQL_CUSTOMER_SEMI_ANTI),
    "blame_supplier": (q_blame_supplier, SQL_BLAME_SUPPLIER),
    "balance_cume_dist": (q_balance_cume_dist, SQL_BALANCE_CUME_DIST),
    "null_semantics": (q_null_semantics, SQL_NULL_SEMANTICS),
    "date_semantics": (q_date_semantics, SQL_DATE_SEMANTICS),
    "rolling_range_frame": (q_rolling_range_frame, SQL_ROLLING_RANGE_FRAME),
    "grouping_sets_revenue": (
        q_grouping_sets_revenue,
        SQL_GROUPING_SETS_REVENUE,
    ),
    "unpivot_profile": (q_unpivot_profile, SQL_UNPIVOT_PROFILE),
}
