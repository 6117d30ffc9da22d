"""Market-basket association-rule mining (beyond-reference surface).

``copurchase_lift`` computes the classic co-purchase association
rules over the order/lineitem fact: for every unordered pair of parts
bought together in at least ``min_support`` orders, the support,
confidence, and lift — all as exact integer ppm ratios, so the gate
hashes them directly (no cross-engine float division).

Scale posture: the pair generation is a self-join of the distinct
(order, part) relation on the order key — co-partitioned, one
shuffle, and the pair volume is bounded by the per-order line count
(TPC-H caps it at 7 lines/order, i.e. ≤ 21 pairs/order; a crawl-scale
basket table would cap or sample giant baskets the same way the
dedup tier caps shingle fan-out). Item frequencies and the order
count are tiny relations (|parts| and 1 row) broadcast into the
scoring join — nothing in the plan materializes more than
O(lines · max_basket) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = ["copurchase_lift", "q_copurchase_lift", "SQL_COPURCHASE_LIFT"]


def copurchase_lift(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Top-k association rules (a, b) by exact-integer lift.

    lift_ppm = n_ab · N · 10⁶ div (n_a · n_b) — BIGINT-exact through
    ~10⁹-order facts (n_ab·N·10⁶ ≤ 7·N²·10⁶); conf_ppm = n_ab · 10⁶
    div n_a. Pairs are canonicalized a < b; the rule direction with
    the larger antecedent count is reported (confidence of the more
    frequent item recommending the rarer one).
    """
    from magmapandas_spark.operators.dedup import fan_out

    # ONE order-keyed shuffle builds per-order sorted item sets
    # (collect_set partial-aggregates map-side); pairs are then
    # generated SCAN-LOCALLY from each array (≤ C(basket,2) per order,
    # capped by the basket bound) — no self-join. Item frequencies and
    # the order count are re-aggregations of the same baskets.
    baskets = (
        fan_out(lineitem)
        .select(F.col(order_col).alias("o"), F.col(item_col).alias("item"))
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.select(F.count(F.lit(1)).alias("n_orders"))
    item_n = baskets.select(
        F.explode("items").alias("item")
    ).groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))

    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )

    scored = (
        pairs.join(
            F.broadcast(item_n.withColumnRenamed("item", "a")).withColumnRenamed(
                "n_item", "n_a"
            ),
            "a",
        )
        .join(
            F.broadcast(item_n.withColumnRenamed("item", "b")).withColumnRenamed(
                "n_item", "n_b"
            ),
            "b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("n_ab * n_orders * 1000000 div (n_a * n_b)").alias(
                "lift_ppm"
            ),
            F.expr(
                "n_ab * 1000000 div (CASE WHEN n_a >= n_b THEN n_a ELSE n_b END)"
            ).alias("conf_ppm"),
        )
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps merged on the driver — no single-partition sort window
    # over the full pair relation); the dense rank is then a window
    # over the k surviving rows only.
    top = scored.orderBy(
        F.desc("lift_ppm"), F.desc("n_ab"), "a", "b"
    ).limit(top_k)
    w = Window.orderBy(F.desc("lift_ppm"), F.desc("n_ab"), "a", "b")
    return (
        top.withColumn("rank", F.row_number().over(w)).orderBy("rank")
    )


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-50 co-purchase rules over lineitem by exact
    integer lift/confidence ppm."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return copurchase_lift(li)


SQL_COPURCHASE_LIFT = """
WITH basket AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem
),
n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM basket),
item_n AS (SELECT item, COUNT(*) AS n_item FROM basket GROUP BY item),
pairs AS (
  SELECT a.item AS a, b.item AS b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b ON a.o = b.o AND a.item < b.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
scored AS (
  SELECT p.a, p.b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
         p.n_ab * n.n_orders * 1000000 // (ia.n_item * ib.n_item)
           AS lift_ppm,
         p.n_ab * 1000000
           // (CASE WHEN ia.n_item >= ib.n_item
                    THEN ia.n_item ELSE ib.n_item END) AS conf_ppm
  FROM pairs p
  JOIN item_n ia ON ia.item = p.a
  JOIN item_n ib ON ib.item = p.b
  CROSS JOIN n
)
SELECT a, b, n_ab, n_a, n_b, lift_ppm, conf_ppm,
       ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, n_ab DESC, a, b)
         AS rank
FROM scored
QUALIFY rank <= 50
ORDER BY rank
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "copurchase_lift": (q_copurchase_lift, SQL_COPURCHASE_LIFT),
}
