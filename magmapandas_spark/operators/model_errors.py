"""Model-error quantification: running windowed stddev with outlier
rejection + error-curve fitting (``tools/model_errors.py``).

The reference loops a Python list comprehension over numpy slices
(``model_errors.py:35-40``). Spark-native: one ordered window collects
the 29-element frame per center row (``ydata[j-fr : j+fr-1]`` ↔
``rowsBetween(-fr, fr-2)``), and the median / 2σ-rejection / stddev of
survivors are *higher-order array expressions* — whole-stage codegen,
no Python at execution time, and an exact DuckDB oracle.

``calculate_error_parameters`` (``model_errors.py:45-55``) fits
a·x + b·x² + c^(x+d) with scipy ``curve_fit``; scipy is unavailable
here, so :func:`fit_error_function` implements damped Gauss-Newton in
pure numpy on the collected (tiny) window output — driver-side, as in
the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t


def _arr_mean(arr):
    return F.aggregate(
        arr, F.lit(0.0), lambda acc, v: acc + v
    ) / F.size(arr)


def _arr_std_pop(arr):
    # empty array -> NaN, matching np.std([]) in the reference's
    # all-rejected edge case
    n = F.size(arr).cast("double")
    s = F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)
    s2 = F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v * v)
    return F.when(
        F.size(arr) > 0, F.sqrt(s2 / n - (s / n) * (s / n))
    ).otherwise(F.lit(float("nan")))


def running_stddev(
    df: DataFrame,
    x_col: str,
    y_col: str,
    boxsize: int = 30,
    sigma: float = 2.0,
    tiebreak: str | None = None,
    out_col: str = "stddev",
) -> DataFrame:
    """Windowed stddev of ``y`` ordered by ``x`` with outlier rejection
    (``tools/model_errors.py:20-42``): per center row, the frame is the
    29 rows ``[-fr, fr-2]``; values more than ``sigma``·std from the
    frame *median* are rejected; result is the population stddev of the
    survivors. Only full windows are emitted (``xvals[fr:-fr]``).

    ``tiebreak`` (default: ``x_col`` alone) makes the ordering total so
    the result is deterministic — at scale, a single global sort is the
    honest cost of this operator (the reference sorts too, implicitly).
    """
    fr = boxsize // 2
    order = [F.col(x_col)] + ([F.col(tiebreak)] if tiebreak else [])
    base = df.filter(
        F.col(y_col).isNotNull()
        & ~F.isnan(y_col)
        & (F.abs(F.col(y_col)) != float("inf"))
    )
    w_frame = Window.orderBy(*order).rowsBetween(-fr, fr - 2)
    w_all = Window.orderBy(*order)

    ys = F.collect_list(F.col(y_col).cast("double")).over(w_frame)
    rn = F.row_number().over(w_all)
    n_total = F.count(F.lit(1)).over(
        Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )

    stage = base.select(
        F.col(x_col),
        *( [F.col(tiebreak)] if tiebreak else [] ),
        ys.alias("__ys"),
        rn.alias("__rn"),
        n_total.alias("__n"),
    ).filter((F.col("__rn") > fr) & (F.col("__rn") <= F.col("__n") - fr))

    arr = F.col("__ys")
    sorted_arr = F.array_sort(arr)
    med = F.element_at(sorted_arr, ((F.size(arr) + 1) / 2).cast("int"))
    std_all = _arr_std_pop(arr)
    # materialize median/std as columns BEFORE the filter lambda:
    # inlining them into the predicate re-evaluates the full-array
    # aggregates per element (O(n²) per window, ~30× slower)
    stage2 = stage.select(
        F.col(x_col), arr, med.alias("__med"), std_all.alias("__std")
    )
    kept = F.filter(
        F.col("__ys"),
        lambda v: F.abs(v - F.col("__med"))
        < F.lit(float(sigma)) * F.col("__std"),
    )
    return stage2.select(
        F.col(x_col),
        _arr_std_pop(kept).alias(out_col),
    )


def error_func(x, a, b, c, d):
    """a·x + b·x² + c^(x+d) (``model_errors.py:6-10``)."""
    return a * x + b * x**2 + c ** (x + d)


def fit_error_function(
    x: np.ndarray,
    y: np.ndarray,
    p0=(0.1, 0.01, 0.9, 1.0),
    iters: int = 200,
    lam0: float = 1e-3,
) -> tuple[np.ndarray, tuple[float, float]]:
    """Fit :func:`error_func` by damped Gauss-Newton (Levenberg
    regularization, numerical Jacobian) — the scipy-free twin of
    ``calculate_error_parameters`` (``model_errors.py:45-55``).
    Returns (params, (x_min, x_max))."""
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    p = np.array(p0, dtype=float)
    lam = lam0

    def resid(p_):
        with np.errstate(over="ignore", invalid="ignore"):
            r = error_func(x, *p_) - y
        return np.where(np.isfinite(r), r, 1e6)

    cost = float(np.sum(resid(p) ** 2))
    for _ in range(iters):
        r = resid(p)
        J = np.empty((len(x), len(p)))
        for k in range(len(p)):
            dp = np.zeros_like(p)
            dp[k] = max(1e-8, abs(p[k]) * 1e-6)
            J[:, k] = (resid(p + dp) - r) / dp[k]
        A = J.T @ J + lam * np.eye(len(p))
        g = J.T @ r
        try:
            step = np.linalg.solve(A, g)
        except np.linalg.LinAlgError:
            break
        p_new = p - step
        cost_new = float(np.sum(resid(p_new) ** 2))
        if cost_new < cost:
            p, cost = p_new, cost_new
            lam = max(lam / 3.0, 1e-12)
            if np.linalg.norm(step) < 1e-12:
                break
        else:
            lam *= 10.0
            if lam > 1e12:
                break
    return p, (float(x.min()), float(x.max()))


# ----------------------------------------------------------------------
# gate queries
# ----------------------------------------------------------------------


def q_running_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running windowed stddev of part size ordered by retail price
    with 2σ-from-median rejection (``tools/model_errors.py:20-42``) —
    ordered window + higher-order array expressions, no UDF."""
    part = spark.read.parquet(_t(sf_dir, "part")).select(
        F.col("p_retailprice").alias("x"),
        F.col("p_size").cast("double").alias("y"),
        F.col("p_partkey").alias("tb"),
    )
    out = running_stddev(part, "x", "y", boxsize=30, sigma=2.0,
                         tiebreak="tb")
    return out.select(
        F.round("x", 4).alias("x"), F.round("stddev", 4).alias("stddev")
    ).orderBy("x")


SQL_RUNNING_STDDEV = """
WITH base AS (
  SELECT p_retailprice AS x, CAST(p_size AS DOUBLE) AS y, p_partkey AS tb
  FROM part
  WHERE p_size IS NOT NULL
),
w AS (
  SELECT x,
    ROW_NUMBER() OVER (ORDER BY x, tb) AS rn,
    COUNT(*) OVER () AS n,
    list(y) OVER (ORDER BY x, tb
                  ROWS BETWEEN 15 PRECEDING AND 13 FOLLOWING) AS ys
  FROM base
),
f AS (SELECT x, ys FROM w WHERE rn > 15 AND rn <= n - 15),
calc AS (
  SELECT x, ys,
    list_sort(ys)[(len(ys) + 1) // 2] AS med,
    sqrt(list_sum([v * v for v in ys]) / len(ys)
         - (list_sum(ys) / len(ys)) ^ 2) AS std_all
  FROM f
),
kept AS (
  SELECT x, [v for v in ys if abs(v - med) < 2.0 * std_all] AS k
  FROM calc
)
SELECT ROUND(x, 4) AS x,
       ROUND(sqrt(list_sum([v * v for v in k]) / len(k)
                  - (list_sum(k) / len(k)) ^ 2), 4) AS stddev
FROM kept
ORDER BY x
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "running_stddev": (q_running_stddev, SQL_RUNNING_STDDEV),
}
