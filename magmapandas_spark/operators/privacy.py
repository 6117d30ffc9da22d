"""Local differential privacy: Warner randomized response
(beyond-reference surface).

The ln-free DP mechanism: each user reports the truth of a sensitive
predicate with probability p = 3/4 and the flipped answer otherwise
(epsilon = ln(p/(1-p)) = ln 3). The per-user coin is the suite's
portable md5 hash, so both engines flip the same users and the gate
hashes the full pipeline: observed counts, the debiased integer-ppm
estimate pi_hat = (obs_rate - (1-p)) / (2p - 1), and the ground-truth
rate beside it.

Scale posture: the mechanism is a per-row map (hash + CASE) followed
by one segment-keyed aggregation with map-side partials — the
cheapest possible shape; noise is added at ingest, the aggregate
never sees raw bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = [
    "randomized_response",
    "q_randomized_response",
    "SQL_RANDOMIZED_RESPONSE",
]


def randomized_response(
    users: DataFrame,
    group_col: str,
    key_col: str,
    predicate_sql: str,
    salt: str = "rr7",
) -> DataFrame:
    """Per-group debiased prevalence estimate under randomized
    response with p = 3/4 (report truth on 3 of 4 hash outcomes)."""
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt), F.col(key_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    b = F.expr(f"CASE WHEN {predicate_sql} THEN 1 ELSE 0 END")
    reported = F.when(coin < 3, b).otherwise(1 - b)
    per_row = users.select(
        F.col(group_col).alias("grp"),
        b.alias("truth"),
        reported.alias("reported"),
    )
    return (
        per_row.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("truth").alias("n_true"),
            F.sum("reported").alias("n_reported"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.expr("n_true * 1000000 div n").alias("true_ppm"),
            "n_reported",
            F.expr("2 * n_reported * 1000000 div n - 500000").alias(
                "est_ppm"
            ),
        )
        .orderBy(group_col)
    )


def q_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: DP prevalence of high-balance accounts per market
    segment via randomized response — estimate and truth side by side,
    all exact integers."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    return randomized_response(
        cust, "c_mktsegment", "c_custkey", "c_acctbal > 5000.0"
    )


SQL_RANDOMIZED_RESPONSE = """
WITH per_row AS (
  SELECT c_mktsegment AS grp,
         CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS truth,
         CASE WHEN ('0x' || substr(md5('rr7' || CAST(c_custkey AS VARCHAR)),
                                   1, 12))::BIGINT % 4 < 3
              THEN CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END
              ELSE 1 - CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END
         END AS reported
  FROM customer
)
SELECT grp AS c_mktsegment, COUNT(*) AS n,
       CAST(SUM(truth) * 1000000 // COUNT(*) AS BIGINT) AS true_ppm,
       CAST(SUM(reported) AS BIGINT) AS n_reported,
       CAST(2 * SUM(reported) * 1000000 // COUNT(*) - 500000 AS BIGINT)
         AS est_ppm
FROM per_row
GROUP BY grp
ORDER BY c_mktsegment
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "randomized_response": (q_randomized_response, SQL_RANDOMIZED_RESPONSE),
}
