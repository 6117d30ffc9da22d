"""Skyline (Pareto frontier) computation (beyond-reference surface).

``skyline_parts`` finds the parts no other part dominates under
(minimize price, maximize size): the classic multi-criteria shortlist
query. Instead of the quadratic NOT EXISTS self-join, the operator
runs the sort-based linear pass: collapse to per-price levels (one
aggregation), take the running max of size over strictly-lower price
levels (one window), and classify each row with two comparisons —
O(n log n) total, no self-join.

Dominance is strict-in-one: an exact (price, size) duplicate does NOT
dominate its twin, so tied frontier points all survive — the same
semantics as the textbook NOT EXISTS definition (property-tested
against brute force in tests/test_round7b.py).

Scale posture: the level window is a running prefix max — the one
inherently sequential pass. At 100 TB it decomposes exactly like a
prefix sum: range-partition by price, per-partition running max,
then offset every partition by the broadcast per-partition maxima of
its predecessors (constant driver state). The gate form keeps the
plain window; the decomposition changes no values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = ["skyline", "q_skyline_parts", "SQL_SKYLINE_PARTS"]


def skyline(
    df: DataFrame,
    min_col: str,
    max_col: str,
    id_col: str,
) -> DataFrame:
    """Rows not dominated under (minimize ``min_col``, maximize
    ``max_col``); dominance requires strict improvement in at least
    one criterion."""
    lvl = df.groupBy(min_col).agg(F.max(max_col).alias("_lvl_max"))
    w = Window.orderBy(min_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lvl = lvl.select(
        min_col,
        "_lvl_max",
        F.max("_lvl_max").over(w).alias("_prev_max"),
    )
    joined = df.join(F.broadcast(lvl), min_col)
    return joined.filter(
        ~(
            (
                F.col("_prev_max").isNotNull()
                & (F.col("_prev_max") >= F.col(max_col))
            )
            | (F.col("_lvl_max") > F.col(max_col))
        )
    ).select(id_col, min_col, max_col)


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: Pareto frontier of parts under (min retail price,
    max size) — linear level-window pass, strict-in-one dominance."""
    parts = spark.read.parquet(_t(sf_dir, "part"))
    return skyline(
        parts, "p_retailprice", "p_size", "p_partkey"
    ).orderBy("p_retailprice", "p_partkey")


SQL_SKYLINE_PARTS = """
WITH lvl AS (
  SELECT p_retailprice, MAX(p_size) AS lvl_max
  FROM part GROUP BY p_retailprice
),
lvl2 AS (
  SELECT p_retailprice, lvl_max,
         MAX(lvl_max) OVER (ORDER BY p_retailprice
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
  FROM lvl
)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN lvl2 l ON l.p_retailprice = p.p_retailprice
WHERE NOT ((l.prev_max IS NOT NULL AND l.prev_max >= p.p_size)
           OR l.lvl_max > p.p_size)
ORDER BY p.p_retailprice, p.p_partkey
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "skyline_parts": (q_skyline_parts, SQL_SKYLINE_PARTS),
}
