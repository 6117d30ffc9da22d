"""Histogram quantile estimation (beyond-reference surface): the
mergeable, bounded-memory percentile path that replaces exact order
statistics at scale.

Exact percentiles need a global sort (or a full multiset per group);
an equi-width histogram needs ONE shuffle carrying ≤ B integer
counters per group, merges by elementwise addition across partitions /
days / tables, and answers any quantile afterwards by within-bin
linear interpolation. That trade (bounded state, rank error ≤ one bin
width) is what ``approx_percentile`` implements engine-privately; this
module is the deterministic twin whose every output sits under a
cross-engine hash.

Determinism: bin assignment, cumulative counts, and rank targets are
integer arithmetic; the only float ops (bin edge, within-bin
interpolation) are single fixed-order IEEE chains over exact inputs —
identical bit-for-bit in DuckDB, so NO final rounding (see
operators/timeseries.py for why rounding would ADD divergence on tidy
decimal inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: equi-width bin count: rank error ≤ N/B per bin at uniform fill
_N_BINS = 1000
_QUANTILES = [0.5, 0.9, 0.99]


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float] | None = None,
    n_bins: int = _N_BINS,
    compare_exact: bool = True,
) -> DataFrame:
    """Per-group quantile estimates from a B-bin equi-width histogram,
    beside the exact order statistic (rank ``ceil(q·N)``) so the gate
    hashes estimator AND ground truth.

    Plan: one agg for (min, max, N) per group (broadcast back), one
    shuffle building the ≤ B-row-per-group histogram with map-side
    combine, a cumulative window over bins, and a bin-probe per
    quantile. The exact branch sorts per group — the cost the
    histogram exists to avoid — and is dropped at scale
    (``compare_exact=False``)."""
    qs = _QUANTILES if quantiles is None else quantiles
    spark = df.sparkSession
    src = df.select(
        F.col(group_col).alias("g"), F.col(value_col).alias("x")
    ).filter(F.col("x").isNotNull())
    stats = src.groupBy("g").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = src.join(F.broadcast(stats), on="g").select(
        "g",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn"))
                    * F.lit(float(n_bins))
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(n_bins - 1),
            )
        )
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("g", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    # the rank target is computed in INTEGER arithmetic (q carried as a
    # permille integer): ceil(q·N) in IEEE doubles can land one ulp
    # above an exact integer product and bump to the next order
    # statistic — ceil(q_pm·N / 1000) = (q_pm·N + 999) div 1000 is
    # exact (all operands positive, so truncating and floor division
    # agree in both engines)
    qdf = spark.createDataFrame(
        [(q, int(round(q * 1000))) for q in qs], "q double, q_pm long"
    )
    probes = (
        cum.join(F.broadcast(stats), on="g")
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "rank_q",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("(q_pm * n + 999) div 1000"),
            ),
        )
        .filter(
            (F.col("cum") >= F.col("rank_q"))
            & (F.col("cum_prev") < F.col("rank_q"))
        )
        .select(
            "g",
            "q",
            (
                F.col("mn")
                + F.col("bin").cast("double")
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(n_bins))
                + (
                    (F.col("rank_q") - F.col("cum_prev")).cast("double")
                    / F.col("cnt").cast("double")
                )
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(n_bins))
            ).alias("est"),
            "rank_q",
        )
    )
    if not compare_exact:
        return probes.select(
            F.col("g").alias(group_col), "q", F.col("est").alias("value")
        )
    rw = Window.partitionBy("g").orderBy("x")
    ranked = src.withColumn("r", F.row_number().over(rw)).select(
        F.col("g").alias("rg"), "x", "r"
    )
    exact = probes.join(
        ranked,
        (F.col("g") == F.col("rg")) & (F.col("rank_q") == F.col("r")),
    ).select(
        F.col("g").alias(group_col),
        "q",
        F.col("est"),
        F.col("x").alias("exact"),
        (F.col("est") - F.col("x")).alias("err"),
    )
    return exact


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 1000-bin histogram p50/p90/p99 of l_extendedprice
    per return flag, beside the exact ``ceil(q·N)``-th order statistic
    — the estimator, the ground truth, and the per-quantile error all
    under the hash."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return histogram_quantiles(
        li, "l_returnflag", "l_extendedprice"
    ).orderBy("l_returnflag", "q")


SQL_HISTOGRAM_QUANTILES = f"""
WITH src AS (
  SELECT l_returnflag AS g, l_extendedprice AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
stats AS (
  SELECT g, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n
  FROM src GROUP BY g
),
binned AS (
  SELECT src.g,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE LEAST(
                CAST(floor((src.x - s.mn) * {float(_N_BINS)!r}
                           / (s.mx - s.mn)) AS BIGINT),
                {_N_BINS - 1}) END AS bin
  FROM src JOIN stats s ON src.g = s.g
),
hist AS (
  SELECT g, bin, COUNT(*) AS cnt FROM binned GROUP BY g, bin
),
cum AS (
  SELECT g, bin, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum
  FROM hist
),
probes AS (
  -- rank in INTEGER arithmetic (q as permille): (q_pm·N + 999) // 1000
  -- == ceil(q·N) exactly; the float ceil can land one ulp high
  SELECT c.g, q.q,
         s.mn + CAST(c.bin AS DOUBLE) * (s.mx - s.mn)
              / {float(_N_BINS)!r}
              + (CAST(GREATEST(1, (q.q_pm * s.n + 999) // 1000)
                      - (c.cum - c.cnt) AS DOUBLE)
                 / CAST(c.cnt AS DOUBLE))
              * (s.mx - s.mn) / {float(_N_BINS)!r} AS est,
         GREATEST(1, (q.q_pm * s.n + 999) // 1000) AS rank_q
  FROM cum c
  JOIN stats s ON c.g = s.g
  CROSS JOIN (SELECT UNNEST({_QUANTILES!r}) AS q,
                     UNNEST({[int(round(q * 1000)) for q in _QUANTILES]!r})
                       AS q_pm) q
  WHERE c.cum >= GREATEST(1, (q.q_pm * s.n + 999) // 1000)
    AND c.cum - c.cnt < GREATEST(1, (q.q_pm * s.n + 999) // 1000)
),
ranked AS (
  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS r
  FROM src
)
SELECT p.g AS l_returnflag, p.q, p.est, r.x AS exact,
       p.est - r.x AS err
FROM probes p JOIN ranked r ON p.g = r.g AND p.rank_q = r.r
ORDER BY l_returnflag, q
"""


# ---------------------------------------------------------------------
# Fixed-edge histograms — the STREAMING-mergeable variant (round 6)
# ---------------------------------------------------------------------
# The equi-width histogram above derives its edges from the group's
# (min, max), which is a two-pass plan and NOT mergeable across
# independently-built sketches (two days' histograms with different
# edges don't add). With FIXED explicit edges the relation
# (group, bin, cnt) merges by elementwise integer sum — the
# cross-partition / cross-day / cross-micro-batch shape
# (streaming/streams.py folds these incrementally).


def fixed_histogram_relation(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = _N_BINS,
) -> DataFrame:
    """Per-group integer histogram over FIXED [lo, hi) edges:
    (group, bin, cnt), ≤ n_bins rows per group, built with one
    map-side-combined aggregation. Out-of-range values clamp into the
    end bins (count-preserving — a quantile consumer sees rank-exact
    mass, just edge-resolution loss outside [lo, hi))."""
    if not hi > lo:
        raise ValueError("need hi > lo")
    x = F.col(value_col).cast("double")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor(
                (x - F.lit(float(lo)))
                * F.lit(float(n_bins))
                / F.lit(float(hi - lo))
            ),
        ),
    ).cast("long")
    return (
        df.filter(x.isNotNull())
        .groupBy(F.col(group_col).alias("g"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("g", group_col)
    )


def merge_histograms(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Union + elementwise sum — exact integer arithmetic, so merge
    order is irrelevant bit-for-bit."""
    return (
        a.unionByName(b)
        .groupBy(group_col, "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "histogram_quantiles": (q_histogram_quantiles, SQL_HISTOGRAM_QUANTILES),
}
