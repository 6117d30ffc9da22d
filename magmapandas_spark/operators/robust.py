"""Robust statistics over event streams (beyond-reference surface):
MAD-based outlier detection and fixed-horizon EWMA smoothing.

Cross-engine determinism rules used here (the suite's established
playbook):

- Medians are explicit ORDER STATISTICS — the value at rank
  ``(n+1) div 2`` under a total order ``(value, event_id)`` — never
  ``percentile`` builtins (whose interpolation differs across
  engines). The selected values are raw data, so they hash exactly.
- The outlier threshold ``dev > 4.4478 * mad`` (3 · 1.4826, the
  normal-consistency constant) is a SHARED literal expression: both
  engines parse the identical text into the identical IEEE tree.
- EWMA weights ``0.25 · 0.75^j`` are dyadic rationals — exact in
  binary64 for j ≤ 15 — emitted as shortest-roundtrip literals into
  one arithmetic text evaluated by both engines over the same lag
  columns, so the smoothed doubles hash bit-exactly.

Scale posture: ``mad_outliers`` needs two per-group sorts (exact
medians are order statistics); that is the correctness twin — at
100 TB use the mergeable ``histogram_quantiles`` sketch for the
median and keep this operator for bounded groups. ``ewma_smooth`` is
one user-keyed shuffle into a 16-lag window — no self-join, state is
one row's lags, the streaming-friendly shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = [
    "mad_outliers",
    "q_mad_outliers",
    "SQL_MAD_OUTLIERS",
    "ewma_smooth",
    "q_ewma_smooth",
    "SQL_EWMA_SMOOTH",
]


def _median_by_rank(
    df: DataFrame, group: str, val: str, tie: str, out: str
) -> DataFrame:
    """Lower median as an explicit order statistic per group."""
    w = Window.partitionBy(group).orderBy(val, tie)
    ranked = df.select(
        group,
        val,
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group)).alias("_n"),
    )
    return (
        ranked.filter(F.expr("_rn = (_n + 1) div 2"))
        .select(group, F.col(val).alias(out))
    )


def mad_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-group robust outlier summary via median absolute deviation.

    Output per group: n, median, MAD, outlier count at the
    3·1.4826·MAD threshold, and the exact integer outlier rate (ppm).
    """
    base = events.select(
        F.col(group_col).alias("g"),
        F.col(val_col).alias("x"),
        F.col(id_col).alias("i"),
    )
    # materialize the two ≤|groups|-row median relations ONCE: dev is
    # referenced by both the MAD branch and the flag branch, and each
    # lazy reference re-ran the group-sort median window (8 parquet
    # scans in the plan — guide §3.3). Now exactly the two per-group
    # sorts the module docstring promises. Deterministic order
    # statistics, hash unchanged.
    med = _median_by_rank(base, "g", "x", "i", "med").localCheckpoint(
        eager=True
    )
    dev = base.join(F.broadcast(med), "g").select(
        "g", "i", "x", F.abs(F.col("x") - F.col("med")).alias("dev"), "med"
    )
    mad = _median_by_rank(
        dev.select("g", F.col("dev").alias("x"), "i"), "g", "x", "i", "mad"
    ).localCheckpoint(eager=True)
    flagged = dev.join(F.broadcast(mad), "g").select(
        "g",
        "med",
        "mad",
        F.expr("CASE WHEN dev > 4.4478 * mad THEN 1 ELSE 0 END").alias(
            "is_out"
        ),
    )
    return (
        flagged.groupBy("g", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_out").alias("n_outliers"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n",
            F.col("med").alias("median"),
            "mad",
            "n_outliers",
            F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: MAD outlier summary per event type."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return mad_outliers(ev)


SQL_MAD_OUTLIERS = """
WITH base AS (
  SELECT event_type AS g, value AS x, event_id AS i FROM events
),
med AS (
  SELECT g, x AS med FROM (
    SELECT g, x,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, i) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM base
  ) WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT b.g, b.i, ABS(b.x - m.med) AS dev, m.med
  FROM base b JOIN med m ON m.g = b.g
),
mad AS (
  SELECT g, dev AS mad FROM (
    SELECT g, dev,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev, i) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM dev
  ) WHERE rn = (n + 1) // 2
)
SELECT d.g AS event_type, COUNT(*) AS n, d.med AS median, a.mad,
       CAST(SUM(CASE WHEN dev > 4.4478 * mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN dev > 4.4478 * mad THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS outlier_ppm
FROM dev d JOIN mad a ON a.g = d.g
GROUP BY d.g, d.med, a.mad
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# Fixed-horizon EWMA smoothing
# ---------------------------------------------------------------------

_EWMA_LAGS = 16
_EWMA_ALPHA = 0.25
_EWMA_USER_MOD = 97


def _ewma_weights() -> list[float]:
    # 0.25 * 0.75^j is a dyadic rational (3^j / 4^(j+1)) — exact in
    # binary64 for j <= 15; repr() round-trips it losslessly.
    return [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_LAGS)]


def _ewma_expr() -> str:
    """Shared arithmetic text over lag columns l0..l15 — one IEEE
    tree, parsed identically by Spark and DuckDB."""
    ws = _ewma_weights()
    # e0-suffixed literals parse as DOUBLE in both engines; a bare
    # decimal literal parses as DECIMAL (in both Spark and DuckDB,
    # with *different* precision rules) and drags the whole tree
    # through engine-specific decimal arithmetic — a measured 1-ulp
    # divergence on this query. The e0 suffix is only valid when
    # repr(w) has no exponent of its own (weights below 1e-4 repr in
    # scientific notation and '1.2e-05e0' is a parse error in both
    # engines) — fail loudly at import if a lag-count/alpha change
    # ever crosses that line.
    for w in ws:
        assert "e" not in repr(w), (
            f"EWMA weight {w!r} reprs in scientific notation; "
            "emit fixed-point literals before changing _EWMA_LAGS/ALPHA"
        )
    num = " + ".join(
        f"COALESCE(l{j}, 0e0) * {w!r}e0" for j, w in enumerate(ws)
    )
    den = " + ".join(
        f"(CASE WHEN l{j} IS NULL THEN 0e0 ELSE {w!r}e0 END)"
        for j, w in enumerate(ws)
    )
    return f"({num}) / ({den})"


def ewma_smooth(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    val_col: str = "value",
) -> DataFrame:
    """Exponentially-weighted moving average over the last 16 events
    per user (normalized over the available-lag weight mass, so the
    head of each series is an unbiased partial-window average)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
    lagged = events.select(
        user_col,
        ts_col,
        seq_col,
        val_col,
        *[
            F.lag(val_col, j).over(w).alias(f"l{j}")
            for j in range(_EWMA_LAGS)
        ],
    )
    return lagged.select(
        user_col,
        seq_col,
        F.col(val_col).alias("value"),
        F.expr(_ewma_expr()).alias("ewma"),
    ).orderBy(user_col, seq_col)


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 16-lag EWMA for a deterministic 1/97 slice of
    users, bit-exact doubles under the hash."""
    ev = spark.read.parquet(_t(sf_dir, "events")).filter(
        F.expr(f"user_id % {_EWMA_USER_MOD} = 0")
    )
    return ewma_smooth(ev)


def _sql_ewma() -> str:
    lag_cols = ",\n         ".join(
        f"LAG(value, {j}) OVER "
        f"(PARTITION BY user_id ORDER BY ts, event_id) AS l{j}"
        for j in range(_EWMA_LAGS)
    )
    return f"""
WITH src AS (
  SELECT * FROM events WHERE user_id % {_EWMA_USER_MOD} = 0
),
lagged AS (
  SELECT user_id, ts, event_id, value,
         {lag_cols}
  FROM src
)
SELECT user_id, event_id, value, {_ewma_expr()} AS ewma
FROM lagged
ORDER BY user_id, event_id
"""


SQL_EWMA_SMOOTH = _sql_ewma()


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "mad_outliers": (q_mad_outliers, SQL_MAD_OUTLIERS),
    "ewma_smooth": (q_ewma_smooth, SQL_EWMA_SMOOTH),
}
