"""Time-series regularization: resample-to-grid + gap filling
(beyond-reference surface; the feature-engineering step every
event-stream training pipeline runs before windowed models).

:func:`gap_fill` turns an irregular event stream into a REGULAR
per-entity hourly series: bucket events to the hour (order-independent
decimal sums), build each entity's dense hour grid, and linearly
interpolate the empty hours from the nearest observed neighbors.

Scale posture: everything is per-entity — the bucket agg is one
shuffle on (entity, hour); the grid explode is scan-local from the
per-entity (min, max) pair; the fill is two window passes over the
entity's own rows (forward + backward ``last/first IGNORE NULLS``),
never a self-join. At 100 TB the cost is the one agg shuffle plus
windows over already-partitioned data; nothing is quadratic and no
state leaves the entity's partition. Interpolation arithmetic is a
single fixed expression over exact inputs (decimal hour sums, integer
hour ids), so the whole filled series sits under a cross-engine hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import SQL_DSUM, dsum


def gap_fill(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hourly resample + linear-interpolation gap fill per entity.

    Returns one row per (entity, hour) over each entity's observed
    [first, last] hour span: ``hour_id`` (epoch hours, BIGINT),
    ``value`` (observed hourly decimal-exact sum, or the linear
    interpolation between the surrounding observed hours), and
    ``filled`` (True where interpolated). NULL values are dropped
    BEFORE bucketing (the kmv/hll convention) — otherwise an hour
    whose events all carry NULL would enter the span as a NULL
    "observation": at a span edge the interpolation then has no
    neighbor and emits NULL rows, breaking the every-gap-has-both-
    neighbors contract. Span edges are observed by construction, so
    every gap interpolates."""
    hour = F.floor(
        F.unix_timestamp(F.col(ts_col)) / F.lit(3600)
    ).cast("long")
    hourly = (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(entity_col).alias("ent"), hour.alias("hour_id"),
            F.col(value_col),
        )
        .groupBy("ent", "hour_id")
        .agg(dsum(F.col(value_col)).alias("v"))
    )
    grid = (
        hourly.groupBy("ent")
        .agg(F.min("hour_id").alias("h0"), F.max("hour_id").alias("h1"))
        .select(
            "ent",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias(
                "hour_id"
            ),
        )
    )
    g = grid.join(hourly, on=["ent", "hour_id"], how="left")
    prev = (
        Window.partitionBy("ent")
        .orderBy("hour_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nxt = (
        Window.partitionBy("ent")
        .orderBy("hour_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour_id"))
    pv = F.last("v", ignorenulls=True).over(prev)
    ph = F.last(obs_hour, ignorenulls=True).over(prev)
    nv = F.first("v", ignorenulls=True).over(nxt)
    nh = F.first(obs_hour, ignorenulls=True).over(nxt)
    interp = pv + (nv - pv) * (
        (F.col("hour_id") - ph).cast("double")
        / (nh - ph).cast("double")
    )
    filled = F.col("v").isNull()
    # NO final ROUND: the inputs are tidy decimals, so interpolation
    # fractions like 1/2 land EXACTLY on 4-decimal half boundaries
    # where Spark's round (HALF_UP on the shortest decimal repr) and
    # DuckDB's (binary multiply + half-away) disagree by one ulp. The
    # unrounded doubles are bit-identical across engines because the
    # whole expression is a single fixed-order IEEE chain over exact
    # inputs (decimal sums, integer hour ids) — rounding would ADD
    # nondeterminism here, not remove it.
    return g.select(
        F.col("ent").alias(entity_col),
        "hour_id",
        F.when(filled, interp).otherwise(F.col("v")).alias("value"),
        filled.alias("filled"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: regularized hourly value series for users < 40 —
    every observed bucket sum AND every interpolated fill value sits
    under the hash (≈29k rows over the 30-day span)."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir).filter(
        F.col("user_id") < 40
    )
    return gap_fill(events).orderBy("user_id", "hour_id")


SQL_GAP_FILL = f"""
WITH hourly AS (
  SELECT user_id AS ent,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         {SQL_DSUM.format(x='value')} AS v
  FROM events WHERE user_id < 40 AND value IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT ent, UNNEST(range(MIN(hour_id), MAX(hour_id) + 1)) AS hour_id
  FROM hourly GROUP BY ent
),
g AS (
  SELECT grid.ent, grid.hour_id, hourly.v
  FROM grid LEFT JOIN hourly
    ON grid.ent = hourly.ent AND grid.hour_id = hourly.hour_id
),
w AS (
  SELECT ent, hour_id, v,
         last_value(v IGNORE NULLS) OVER pw AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN hour_id END
                    IGNORE NULLS) OVER pw AS ph,
         first_value(v IGNORE NULLS) OVER nw AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN hour_id END
                     IGNORE NULLS) OVER nw AS nh
  FROM g
  WINDOW
    pw AS (PARTITION BY ent ORDER BY hour_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    nw AS (PARTITION BY ent ORDER BY hour_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT ent AS user_id, hour_id,
       CASE WHEN v IS NULL
            THEN pv + (nv - pv)
                 * (CAST(hour_id - ph AS DOUBLE)
                    / CAST(nh - ph AS DOUBLE))
            ELSE v END AS value,
       v IS NULL AS filled
FROM w
ORDER BY user_id, hour_id
"""


# ---------------------------------------------------------------------
# CUSUM rate-shift detection over hourly counts
# ---------------------------------------------------------------------


def cusum_hourly(
    events,
    group_col: str = "event_type",
    ts_col: str = "ts",
    alarm_mult: int = 10,
):
    """One-sided CUSUM over per-group hourly event counts, in exact
    BIGINT arithmetic.

    The recursion ``S_i = max(0, S_{i-1} + y_i)`` is rewritten as the
    window identity ``S_i = P_i - min(0, min_{j<=i} P_j)`` (P = running
    prefix sum of y) — two plain running windows instead of an
    unexpressible recursive aggregate. Deviations are scaled integers
    ``y_i = c_i * n_hours - total`` (count deviation from the group
    mean multiplied through by n_hours, so no division ever happens),
    and the alarm threshold is ``alarm_mult * total`` in the same
    units. Everything under the hash is a BIGINT.

    Plan: one (group, hour) count aggregation, a group-sized stats
    join, two running windows over the same (group ORDER BY hour)
    partitioning, one final group summary. At 100 TB the hourly
    count relation is |groups|·|hours| — tiny next to the scan.
    """
    hourly = events.groupBy(
        F.col(group_col).alias("g"),
        F.date_trunc("hour", F.col(ts_col)).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = hourly.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("total"),
    )
    y = hourly.join(F.broadcast(tot), "g").select(
        "g",
        "h",
        "n_hours",
        "total",
        F.expr("c * n_hours - total").alias("y"),
    )
    w = Window.partitionBy("g").orderBy("h")
    p = y.select(
        "g", "h", "total", F.sum("y").over(w).alias("psum")
    )
    s = p.select(
        "g",
        "h",
        "total",
        (
            F.col("psum")
            - F.least(F.min("psum").over(w), F.lit(0))
        ).alias("s"),
    )
    return (
        s.groupBy("g", "total")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.max("s").alias("max_s"),
            F.sum(
                F.expr(f"CASE WHEN s > {alarm_mult} * total THEN 1"
                       " ELSE 0 END")
            ).alias("n_alarms"),
            F.min(
                F.expr(
                    f"CASE WHEN s > {alarm_mult} * total"
                    " THEN unix_micros(CAST(h AS TIMESTAMP)) END"
                )
            ).alias("first_alarm_us"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_hours",
            "total",
            "max_s",
            "n_alarms",
            "first_alarm_us",
        )
        .orderBy(group_col)
    )


def q_cusum_alarms(spark, sf_dir: str):
    """Gate query: integer CUSUM rate-shift report per event type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cusum_hourly(ev)


SQL_CUSUM_ALARMS = """
WITH hourly AS (
  SELECT event_type AS g, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT g, COUNT(*) AS n_hours, CAST(SUM(c) AS BIGINT) AS total
  FROM hourly GROUP BY g
),
y AS (
  SELECT h2.g, h2.h, t.n_hours, t.total,
         h2.c * t.n_hours - t.total AS y
  FROM hourly h2 JOIN tot t ON t.g = h2.g
),
p AS (
  SELECT g, h, total,
         SUM(y) OVER (PARTITION BY g ORDER BY h) AS psum
  FROM y
),
s AS (
  SELECT g, h, total,
         psum - LEAST(MIN(psum) OVER (PARTITION BY g ORDER BY h), 0)
           AS s
  FROM p
)
SELECT g AS event_type, COUNT(*) AS n_hours, total,
       CAST(MAX(s) AS BIGINT) AS max_s,
       CAST(SUM(CASE WHEN s > 10 * total THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       MIN(CASE WHEN s > 10 * total
                THEN epoch_us(CAST(h AS TIMESTAMP)) END)
         AS first_alarm_us
FROM s
GROUP BY g, total
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# Largest-triangle-one-bucket downsampling (LTOB)
# ---------------------------------------------------------------------


def triangle_downsample(
    events,
    group_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    val_col: str = "value",
    n_buckets: int = 32,
):
    """Visual time-series downsampling: per series, keep the point in
    each of ``n_buckets`` rank buckets whose triangle with its
    immediate neighbors has the largest area (the LTOB variant of
    LTTB — one-bucket areas keep the selection window-expressible,
    where true LTTB's selected-point recursion is inherently
    sequential). First and last points always survive.

    Determinism: areas are exact BIGINT cross products over
    (epoch-microsecond, floor(value·10⁶)) integer coordinates —
    double→int conversion is an explicit FLOOR of an exactly-rounded
    product, identical cross-engine; ties break on the sequence
    column. Bucket assignment is explicit rank arithmetic.

    Plan: one series-keyed exchange feeds the rank window, the
    lag/lead neighbor window, and the per-bucket argmax (windowless
    max_by-style aggregation) — nothing else shuffles.
    """
    w = Window.partitionBy(group_col).orderBy(ts_col, seq_col)
    base = events.select(
        F.col(group_col).alias("g"),
        # x in epoch SECONDS and y in value-microunits keep the cross
        # products within BIGINT even for sparse series whose neighbor
        # gaps span the full time range (micros overflowed at sf0.001)
        (F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1000000))
        .cast("bigint").alias("x"),
        F.expr(f"CAST(FLOOR({val_col} * 1000000) AS BIGINT)").alias("y"),
        F.col(seq_col).alias("i"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    )
    wg = Window.partitionBy("g").orderBy("rn")
    nb = base.select(
        "g",
        "x",
        "y",
        "i",
        "rn",
        "n",
        F.expr(f"(rn - 1) * {n_buckets} div n").alias("bucket"),
        F.lag("x").over(wg).alias("px"),
        F.lag("y").over(wg).alias("py"),
        F.lead("x").over(wg).alias("nx"),
        F.lead("y").over(wg).alias("ny"),
    )
    scored = nb.select(
        "g",
        "x",
        "y",
        "i",
        "rn",
        "n",
        "bucket",
        F.expr(
            "CASE WHEN px IS NULL OR nx IS NULL THEN NULL"
            " ELSE abs((px - x) * (ny - y) - (nx - x) * (py - y)) END"
        ).alias("area"),
    )
    keep_edges = scored.filter(
        F.expr("rn = 1 OR rn = n")
    ).select("g", "x", "y", "i")
    # per-bucket argmax by (area, -i): encode into one MAX over a
    # struct-ordered pair — windowless grouped top-1
    middles = (
        scored.filter(F.expr("rn > 1 AND rn < n AND area IS NOT NULL"))
        .groupBy("g", "bucket")
        .agg(
            F.max(F.struct(F.col("area"), (-F.col("i")).alias("ni"))).alias(
                "best"
            )
        )
        .select("g", "bucket", F.expr("-best.ni").alias("i"))
    )
    sel = middles.select("g", "i").unionByName(
        keep_edges.select("g", "i")
    ).distinct()
    return (
        base.join(sel, ["g", "i"])
        .select(
            F.col("g").alias(group_col),
            F.col("i").alias(seq_col),
            "x",
            "y",
        )
        .orderBy(group_col, "x", seq_col)
    )


def q_triangle_downsample(spark, sf_dir: str):
    """Gate query: LTOB downsampling of each event type's value
    series to 32 buckets — exact integer coordinates and areas."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return triangle_downsample(ev)


SQL_TRIANGLE_DOWNSAMPLE = """
WITH base AS (
  SELECT event_type AS g,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS x,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS y,
         event_id AS i,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
nb AS (
  SELECT g, x, y, i, rn, n,
         (rn - 1) * 32 // n AS bucket,
         LAG(x) OVER w AS px, LAG(y) OVER w AS py,
         LEAD(x) OVER w AS nx, LEAD(y) OVER w AS ny
  FROM base
  WINDOW w AS (PARTITION BY g ORDER BY rn)
),
scored AS (
  SELECT g, x, y, i, rn, n, bucket,
         CASE WHEN px IS NULL OR nx IS NULL THEN NULL
              ELSE abs((px - x) * (ny - y) - (nx - x) * (py - y)) END
           AS area
  FROM nb
),
keep_edges AS (
  SELECT g, i FROM scored WHERE rn = 1 OR rn = n
),
middles AS (
  SELECT g, bucket, -MAX({'area': area, 'ni': -i}).ni AS i
  FROM scored
  WHERE rn > 1 AND rn < n AND area IS NOT NULL
  GROUP BY g, bucket
),
sel AS (
  SELECT DISTINCT g, i FROM (
    SELECT g, i FROM middles UNION ALL SELECT g, i FROM keep_edges
  )
)
SELECT b.g AS event_type, b.i AS event_id, b.x, b.y
FROM base b JOIN sel s ON s.g = b.g AND s.i = b.i
ORDER BY event_type, x, event_id
"""


# ---------------------------------------------------------------------
# Seasonal profile (round 8)
# ---------------------------------------------------------------------


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the day-of-week × hour-of-day seasonal profile a
    capacity-planning / anomaly-baseline pass publishes over the
    events stream — per (dow, hour) cell: event count, exact mean
    value, and the seasonal index (cell mean / global mean, ppm-free
    double from DECIMAL-exact sums). Day-of-week is computed as
    engine-portable integer arithmetic on epoch days
    ((days_since_1970 + 4) % 7, 0 = Sunday) — EXTRACT(dow) conventions
    differ between engines.

    Plan: one grouped aggregation to the ≤168-cell grain (map-side
    combined), one 1-row global roll-up broadcast back — nothing
    corpus-sized past the first shuffle, no window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    days = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    cells = ev.groupBy(
        ((days + 4) % 7).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    glob = cells.agg(
        F.sum("n").alias("gn"), F.sum("sv").alias("gsv")
    )
    return (
        cells.crossJoin(F.broadcast(glob))
        .select(
            "dow",
            "hour",
            "n",
            F.round(F.col("sv").cast("double") / F.col("n"), 6).alias(
                "mean_value"
            ),
            F.round(
                (F.col("sv").cast("double") / F.col("n"))
                / (F.col("gsv").cast("double") / F.col("gn")),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("dow", "hour")
    )


SQL_SEASONAL_PROFILE = """
WITH cells AS (
  SELECT CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4)
              % 7 AS INT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events
  GROUP BY 1, 2
),
tot AS (
  SELECT SUM(n) AS gn, SUM(sv) AS gsv FROM cells
)
SELECT dow, hour, n,
       ROUND(CAST(sv AS DOUBLE) / n, 6) AS mean_value,
       ROUND((CAST(sv AS DOUBLE) / n) / (CAST(gsv AS DOUBLE) / gn), 6)
         AS seasonal_index
FROM cells CROSS JOIN tot
ORDER BY dow, hour
"""


def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: seasonal-residual anomaly flags — each event is
    compared against ITS OWN (dow, hour) cell's mean and variance
    (DECIMAL-exact power sums), and flagged when
    (value − mean)² > 4·variance (the |z| > 2 rule, squared to avoid
    a sqrt). Output per cell: n, outlier count, outlier ppm — the
    anomaly-rate report a monitoring pass publishes on top of the
    seasonal profile.

    Plan: one ≤168-cell aggregation broadcast back over a second scan
    (scan-local flagging), one cell-grain recount — no window, no
    corpus-sized join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    days = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    src = ev.select(
        ((days + 4) % 7).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        "value",
    )

    def ps(e):
        return F.sum(e.cast("decimal(28,6)")).cast("double")

    cells = src.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        ps(F.col("value")).alias("s1"),
        ps(F.col("value") * F.col("value")).alias("s2"),
    )
    m = F.col("s1") / F.col("n")
    v = F.col("s2") / F.col("n") - m * m
    flagged = (
        src.join(F.broadcast(cells), ["dow", "hour"])
        .select(
            "dow",
            "hour",
            F.expr(
                "CASE WHEN (value - s1 / n) * (value - s1 / n)"
                " > 4.0 * (s2 / n - (s1 / n) * (s1 / n))"
                " THEN 1 ELSE 0 END"
            ).alias("is_outlier"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_outlier").cast("long").alias("n_outliers"),
        )
    )
    return flagged.select(
        "dow",
        "hour",
        "n",
        "n_outliers",
        F.expr("n_outliers * 1000000 div n").alias("outlier_ppm"),
    ).orderBy("dow", "hour")


SQL_SEASONAL_OUTLIERS = """
WITH src AS (
  SELECT CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4)
              % 7 AS INT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         value
  FROM events
),
cells AS (
  SELECT dow, hour, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
  FROM src GROUP BY dow, hour
),
flagged AS (
  SELECT s.dow, s.hour, COUNT(*) AS n,
         CAST(SUM(CASE WHEN (s.value - c.s1 / c.n) * (s.value - c.s1 / c.n)
                            > 4.0 * (c.s2 / c.n - (c.s1 / c.n) * (c.s1 / c.n))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM src s JOIN cells c ON c.dow = s.dow AND c.hour = s.hour
  GROUP BY s.dow, s.hour
)
SELECT dow, hour, n, n_outliers,
       n_outliers * 1000000 // n AS outlier_ppm
FROM flagged
ORDER BY dow, hour
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "gap_fill": (q_gap_fill, SQL_GAP_FILL),
    "cusum_alarms": (q_cusum_alarms, SQL_CUSUM_ALARMS),
    "triangle_downsample": (q_triangle_downsample, SQL_TRIANGLE_DOWNSAMPLE),
    "seasonal_outliers": (q_seasonal_outliers, SQL_SEASONAL_OUTLIERS),
    "seasonal_profile": (q_seasonal_profile, SQL_SEASONAL_PROFILE),
}
