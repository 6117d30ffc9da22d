"""Distributed closed-form regression via normal equations
(beyond-reference surface; the one-pass sufficient-statistics shape
every large-scale feature/label diagnostic starts from).

:func:`grouped_ols` fits per-group simple OLS ``y = a + b·x`` from
SIX sufficient statistics per group — ``n, Σx, Σy, Σx², Σxy, Σy²`` —
then solves the 2×2 normal equations in closed form (Cramer's rule)
and reports slope, intercept and R².

Determinism design: the sufficient statistics are order-independent
DECIMAL sums (the ``dsum`` discipline — per-row DECIMAL(18,6) cast,
exact decimal accumulation, one final DOUBLE cast), so every engine
produces bit-identical stats regardless of partitioning. The solve is
then a single fixed-order IEEE-double expression over those exact
inputs — no iteration, no data-dependent order — so slope/intercept/R²
are bit-identical across engines and sit directly under the
cross-engine hash.

Scale posture: ONE shuffle into a hash aggregate with map-side partial
aggregation; per-group state is six numbers, total state O(groups).
The fit never sees individual rows again after the scan — at 100 TB
the cost is the scan plus a groups-sized exchange, the same contract
as ``pricing_summary``. This is the textbook "train on a cluster in
one pass" shape (sufficient statistics ARE the mergeable aggregation
state); the multi-feature generalization accumulates the d×d Gram
matrix entries the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import SQL_DSUM, _t, dsum


def _dprod_sum(a: F.Column, b: F.Column) -> F.Column:
    """Order-independent exact sum of a product: cast the FACTORS to
    DECIMAL(18,6) (tie-safe at input magnitudes — the same per-row
    casts ``pricing_summary`` performs), multiply EXACTLY in the
    decimal domain (18,6)×(18,6) → (37,12), sum exactly, downscale
    EXACTLY back to scale 6, one final DOUBLE cast. Casting the double
    product instead would round a ~1e10-magnitude double (ulp ≈ 2e-6)
    onto the 1e-6 decimal grid, where Spark's shortest-repr HALF_UP
    and DuckDB's binary multiply-and-round can tie-break differently.

    Contract: each factor must carry ≤ 3 true fractional digits so the
    product has ≤ 6 and the scale-12 → scale-6 downscale drops only
    zeros (exact, no tie to break). The downscale matters: DuckDB's
    scale-12 decimal→double cast (hugeint→double then ÷1e12) double-
    rounds one ulp away from Spark's single correctly-rounded
    conversion — observed on lineitem's Σx·y — while the scale-6 cast
    is the engine-proven ``dsum`` regime."""
    return (
        F.sum(a.cast("decimal(18,6)") * b.cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .cast("double")
    )


#: DuckDB twin of :func:`_dprod_sum`. Width 28 (vs Spark's 18) forces
#: DuckDB onto hugeint storage — its int64 path overflows on the raw
#: product — while the scale-6 rounding of the CAST, and therefore the
#: exact rational being summed, is identical. The final decimal →
#: double conversion goes THROUGH VARCHAR: DuckDB's direct cast
#: double-rounds (scaled-integer → double, then the scale division)
#: and at Σy² magnitudes (~4e13, double ulp ≈ 2⁻⁷) that diverges one
#: ulp from Spark's single correctly-rounded BigDecimal conversion —
#: observed on lineitem group (A, O). Decimal→varchar prints the
#: exact digits and varchar→double is correctly rounded, matching
#: Spark bit-for-bit by construction.
SQL_DPROD_SUM = (
    "CAST(CAST(CAST(SUM(CAST({a} AS DECIMAL(28,6)) * CAST({b} AS"
    " DECIMAL(28,6))) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)"
)


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple OLS from decimal-exact sufficient statistics.

    Returns one row per group: ``n_rows``, ``slope``, ``intercept``,
    ``r2``. Groups where the denominator ``n·Σx² − (Σx)²`` is zero
    (constant x) get NULL slope/intercept/r2 rather than ±inf.
    """
    x = F.col(x_col)
    y = F.col(y_col)
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        _dprod_sum(x, x).alias("sxx"),
        _dprod_sum(x, y).alias("sxy"),
        _dprod_sum(y, y).alias("syy"),
    )
    n = F.col("n_rows").cast("double")
    # fixed-order IEEE chain over exact (decimal-summed) inputs: both
    # engines evaluate the identical expression tree, so the doubles
    # are bit-identical — no rounding, no tolerance
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    sst = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(den != 0.0, num / den)
    intercept = F.when(
        den != 0.0, (F.col("sy") - (num / den) * F.col("sx")) / n
    )
    r2 = F.when(
        (den != 0.0) & (sst != 0.0), (num * num) / (den * sst)
    )
    return stats.select(
        *group_cols,
        "n_rows",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def q_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-(returnflag, linestatus) OLS of extended price
    on quantity over lineitem — six decimal-exact sufficient
    statistics per group, closed-form solve, slope/intercept/R² under
    the cross-engine hash."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return grouped_ols(
        li,
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
        "l_extendedprice",
    ).orderBy("l_returnflag", "l_linestatus")


SQL_LINREG_NORMAL = f"""
WITH stats AS (
  SELECT
    l_returnflag, l_linestatus,
    COUNT(*) AS n_rows,
    {SQL_DSUM.format(x='l_quantity')} AS sx,
    {SQL_DSUM.format(x='l_extendedprice')} AS sy,
    {SQL_DPROD_SUM.format(a='l_quantity', b='l_quantity')} AS sxx,
    {SQL_DPROD_SUM.format(a='l_quantity', b='l_extendedprice')} AS sxy,
    {SQL_DPROD_SUM.format(a='l_extendedprice', b='l_extendedprice')} AS syy
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus
)
SELECT
  l_returnflag, l_linestatus, n_rows,
  CASE WHEN CAST(n_rows AS DOUBLE) * sxx - sx * sx <> 0.0 THEN
    (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
      / (CAST(n_rows AS DOUBLE) * sxx - sx * sx)
  END AS slope,
  CASE WHEN CAST(n_rows AS DOUBLE) * sxx - sx * sx <> 0.0 THEN
    (sy - ((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
            / (CAST(n_rows AS DOUBLE) * sxx - sx * sx)) * sx)
      / CAST(n_rows AS DOUBLE)
  END AS intercept,
  CASE WHEN CAST(n_rows AS DOUBLE) * sxx - sx * sx <> 0.0
        AND CAST(n_rows AS DOUBLE) * syy - sy * sy <> 0.0 THEN
    ((CAST(n_rows AS DOUBLE) * sxy - sx * sy)
      * (CAST(n_rows AS DOUBLE) * sxy - sx * sy))
      / ((CAST(n_rows AS DOUBLE) * sxx - sx * sx)
          * (CAST(n_rows AS DOUBLE) * syy - sy * sy))
  END AS r2
FROM stats
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------
# Multi-feature OLS: Gram-matrix sufficient statistics + Cramer solve
# ---------------------------------------------------------------------


def _det3(a, b, c, d, e, f, g, h, i):
    """SQL text of a 3×3 determinant expanded along the first row —
    the SAME string is parsed by Spark SQL and DuckDB, so both engines
    evaluate the identical fixed-order IEEE expression tree."""
    return (
        f"({a} * ({e} * {i} - {f} * {h})"
        f" - {b} * ({d} * {i} - {f} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


#: shared expression texts for the 2-feature + intercept normal
#: equations over stats columns (n_rows, s1, s2, s11, s12, s22,
#: sy, s1y, s2y, syy)
_DN = "CAST(n_rows AS DOUBLE)"
_DET_A = _det3(_DN, "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
_DET_0 = _det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
_DET_1 = _det3(_DN, "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
_DET_2 = _det3(_DN, "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")


def grouped_ols2(
    df: DataFrame,
    group_cols: list[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group OLS ``y = β0 + β1·x1 + β2·x2`` from ten decimal-exact
    Gram-matrix sufficient statistics and a closed-form 3×3 Cramer
    solve.

    The general distributed-training shape: the scan accumulates the
    (d+1)×(d+1) Gram matrix and X'y as mergeable exact-decimal sums
    (one partial-aggregatable shuffle, O(groups·d²) state); the solve
    is driver-free, a single projection. Determinism: the Cramer
    determinants are shared SQL-text expressions parsed identically
    by every engine, so β and R² are bit-identical given the exact
    stats. Singular Gram matrices (collinear features) yield NULLs.
    Numerical note: raw-moment normal equations lose ~half the
    significand to cancellation when features are far from zero —
    at scale, center features first (the statistics are the same
    sums); the gate's features are small and tidy.
    """
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out: the ten decimal Gram sums evaluate in the scan stage's
    # partial aggregation — single-row-group inputs would serialize
    # them onto one core (sums are order-independent by DECIMAL)
    df = fan_out(df)
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(x1).alias("s1"),
        dsum(x2).alias("s2"),
        _dprod_sum(x1, x1).alias("s11"),
        _dprod_sum(x1, x2).alias("s12"),
        _dprod_sum(x2, x2).alias("s22"),
        dsum(y).alias("sy"),
        _dprod_sum(x1, y).alias("s1y"),
        _dprod_sum(x2, y).alias("s2y"),
        _dprod_sum(y, y).alias("syy"),
    )
    betas = stats.select(
        *group_cols,
        "n_rows",
        "sy",
        "s1y",
        "s2y",
        "syy",
        F.expr(
            f"CASE WHEN {_DET_A} <> 0.0"
            f" THEN {_DET_0} / {_DET_A} END"
        ).alias("beta0"),
        F.expr(
            f"CASE WHEN {_DET_A} <> 0.0"
            f" THEN {_DET_1} / {_DET_A} END"
        ).alias("beta1"),
        F.expr(
            f"CASE WHEN {_DET_A} <> 0.0"
            f" THEN {_DET_2} / {_DET_A} END"
        ).alias("beta2"),
    )
    sse = "(syy - (beta0 * sy + beta1 * s1y + beta2 * s2y))"
    sst = f"(syy - sy * sy / {_DN})"
    return betas.select(
        *group_cols,
        "n_rows",
        "beta0",
        "beta1",
        "beta2",
        F.expr(
            f"CASE WHEN beta0 IS NOT NULL AND {sst} <> 0.0"
            f" THEN ({sst} - {sse}) / {sst} END"
        ).alias("r2"),
    )


def q_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-returnflag OLS of extended price on quantity
    and discount — ten Gram-matrix statistics, shared-text Cramer
    solve, β and R² under the cross-engine hash."""
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return grouped_ols2(
        li, ["l_returnflag"], "l_quantity", "l_discount",
        "l_extendedprice",
    ).orderBy("l_returnflag")


SQL_OLS_MULTI = f"""
WITH stats AS (
  SELECT
    l_returnflag,
    COUNT(*) AS n_rows,
    {SQL_DSUM.format(x='l_quantity')} AS s1,
    {SQL_DSUM.format(x='l_discount')} AS s2,
    {SQL_DPROD_SUM.format(a='l_quantity', b='l_quantity')} AS s11,
    {SQL_DPROD_SUM.format(a='l_quantity', b='l_discount')} AS s12,
    {SQL_DPROD_SUM.format(a='l_discount', b='l_discount')} AS s22,
    {SQL_DSUM.format(x='l_extendedprice')} AS sy,
    {SQL_DPROD_SUM.format(a='l_quantity', b='l_extendedprice')} AS s1y,
    {SQL_DPROD_SUM.format(a='l_discount', b='l_extendedprice')} AS s2y,
    {SQL_DPROD_SUM.format(a='l_extendedprice', b='l_extendedprice')}
      AS syy
  FROM lineitem
  GROUP BY l_returnflag
),
betas AS (
  SELECT l_returnflag, n_rows, sy, s1y, s2y, syy,
    CASE WHEN {_DET_A} <> 0.0 THEN {_DET_0} / {_DET_A} END AS beta0,
    CASE WHEN {_DET_A} <> 0.0 THEN {_DET_1} / {_DET_A} END AS beta1,
    CASE WHEN {_DET_A} <> 0.0 THEN {_DET_2} / {_DET_A} END AS beta2
  FROM stats
)
SELECT l_returnflag, n_rows, beta0, beta1, beta2,
  CASE WHEN beta0 IS NOT NULL AND (syy - sy * sy / {_DN}) <> 0.0
       THEN ((syy - sy * sy / {_DN})
             - (syy - (beta0 * sy + beta1 * s1y + beta2 * s2y)))
            / (syy - sy * sy / {_DN}) END AS r2
FROM betas
ORDER BY l_returnflag
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "linreg_normal": (q_linreg_normal, SQL_LINREG_NORMAL),
    "ols_multi": (q_ols_multi, SQL_OLS_MULTI),
}
