"""Skew-handling operators (beyond-reference surface; SURVEY §4.2).

AQE's skew-join splitting covers sort-merge joins at runtime, but two
hot-key shapes still need explicit salting at 100 TB:

- **joins** where one side's hot key exceeds a single task even after
  AQE splitting of the other side (`salted_join`);
- **non-algebraic aggregations** (exact COUNT(DISTINCT ...) and
  friends) where partial aggregation cannot pre-reduce a hot group, so
  every row of the hot key lands on one reduce task
  (`salted_count_distinct`).

Both are pure DataFrame compositions — results are byte-identical to
the unsalted equivalent, only the shuffle fan-out changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import SQL_DSUM, _t, dsum


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salt: int = 8,
) -> DataFrame:
    """Equi-join with the hot-key shuffle split ``n_salt`` ways.

    The (large, skewed) ``left`` gets a uniform salt derived from a
    whole-row hash; the (smaller) ``right`` is replicated once per salt
    value, so each (key, salt) shard joins independently: a key that
    used to occupy one reduce task now occupies ``n_salt``. Join output
    equals the plain join exactly — the salt never leaves the plan.

    Cost model: right side grows ×``n_salt`` (keep it the dimension
    side); left adds one narrow hash column. Prefer ``broadcast(right)``
    when it fits — salting is for the region where neither broadcast
    nor AQE splitting applies (e.g. ``how='left'`` with a hot key on
    the preserved side)."""
    # Normalize Spark's join-type aliases ("left_outer", "LeftOuter",
    # "outer", ...) before the safety check — an allowlist, so any
    # alias we haven't reasoned about is rejected rather than silently
    # producing n_salt-duplicated unmatched right rows.
    norm = how.lower().replace("_", "")
    supported = {
        "inner": "inner",
        "left": "left",
        "leftouter": "left",
        "cross": "inner",
        "semi": "semi",
        "leftsemi": "semi",
        "anti": "anti",
        "leftanti": "anti",
    }
    if norm not in supported:
        raise ValueError(
            "salted_join replicates the right side; join type "
            f"{how!r} would duplicate unmatched right rows (or is "
            "unknown). Supported: inner/left/semi/anti — swap the "
            "sides for right/full outer."
        )
    how = supported[norm]
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salt)
    ).alias("__salt")
    lsalt = left.select("*", salt)
    rrep = right.select(
        "*",
        F.explode(
            F.array(*[F.lit(i).cast("bigint") for i in range(n_salt)])
        ).alias("__salt"),
    )
    return lsalt.join(rrep, on=on + ["__salt"], how=how).drop("__salt")


def salted_count_distinct(
    df: DataFrame,
    keys: list[str],
    value: str | Column,
    n_salt: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, skew-safe.

    COUNT(DISTINCT) is not algebraic: partial aggregation cannot
    pre-reduce a hot group, so the plain form ships every (key, value)
    pair of a hot key to one task. Salting by the *value hash*
    partitions each key's value set into ``n_salt`` disjoint buckets —
    per-bucket distinct counts are then summed exactly (a value can
    appear in only one bucket). Two balanced shuffles replace one
    skewed one; the result is exact, not a sketch (use
    ``approx_count_distinct`` when ±2% is acceptable)."""
    vcol = F.col(value) if isinstance(value, str) else value
    bucket = F.pmod(F.xxhash64(vcol), F.lit(n_salt)).alias("__vbucket")
    per_bucket = (
        df.select(*keys, vcol.alias("__v"), bucket)
        .groupBy(*keys, "__vbucket")
        .agg(F.count_distinct(F.col("__v")).alias("__nd"))
    )
    return per_bucket.groupBy(*keys).agg(F.sum("__nd").alias(out_col))


# ----------------------------------------------------------------------
# gate queries
# ----------------------------------------------------------------------


def q_skew_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-order counts over 8 deliberately hot keys via
    value-hash salting (``operators.skew.salted_count_distinct``):
    COUNT(DISTINCT) is non-algebraic, so without salting every row of a
    hot key converges on one reduce task. Values are exactly the plain
    COUNT(DISTINCT) — the oracle is the unsalted SQL."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    hot = li.select(
        (F.col("l_partkey") % 8).alias("hot_key"), "l_orderkey"
    )
    out = salted_count_distinct(hot, ["hot_key"], "l_orderkey", n_salt=16)
    return out.orderBy("hot_key")


SQL_SKEW_DISTINCT = """
SELECT l_partkey % 8 AS hot_key,
       COUNT(DISTINCT l_orderkey) AS n_distinct
FROM lineitem
GROUP BY 1
ORDER BY hot_key
"""


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted revenue through a salted equi-join on 10 hot keys
    (``operators.skew.salted_join``): the dimension side is replicated
    per salt shard so each hot key spreads over n_salt reduce tasks.
    Join output — and therefore the aggregate — is byte-identical to
    the plain join the oracle runs."""
    li = spark.read.parquet(_t(sf_dir, "lineitem")).select(
        (F.col("l_partkey") % 10).alias("hot_key"),
        "l_extendedprice",
        "l_discount",
    )
    dim = (
        spark.read.parquet(_t(sf_dir, "part"))
        .select((F.col("p_partkey") % 10).alias("hot_key"))
        .distinct()
        .withColumn(
            "factor", F.col("hot_key").cast("double") * F.lit(0.01) + F.lit(1.0)
        )
    )
    joined = salted_join(li, dim, on=["hot_key"], n_salt=8)
    return (
        joined.groupBy("hot_key")
        .agg(
            dsum(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * F.col("factor")
            ).alias("weighted_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("hot_key")
    )


SQL_SALTED_JOIN_REVENUE = f"""
WITH dim AS (
  SELECT DISTINCT p_partkey % 10 AS hot_key FROM part
),
dimf AS (
  SELECT hot_key, CAST(hot_key AS DOUBLE) * 0.01 + 1.0 AS factor FROM dim
)
SELECT l.hot_key,
  {SQL_DSUM.format(x="l.l_extendedprice * (1.0 - l.l_discount) * dimf.factor")}
    AS weighted_revenue,
  COUNT(*) AS n
FROM (SELECT l_partkey % 10 AS hot_key, l_extendedprice, l_discount
      FROM lineitem) l
JOIN dimf ON l.hot_key = dimf.hot_key
GROUP BY l.hot_key
ORDER BY l.hot_key
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "skew_distinct": (q_skew_distinct, SQL_SKEW_DISTINCT),
    "salted_join_revenue": (q_salted_join_revenue, SQL_SALTED_JOIN_REVENUE),
}
