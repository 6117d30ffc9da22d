"""Event-log gate queries over the ``events`` table: hourly buckets,
JSON payloads, per-user deltas, sessions, running totals and sliding
windows; the window and session queries are the batch twins of
:mod:`streaming.streams` operators.

Same cross-engine determinism rules as :mod:`suite`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import SQL_DSUM, dsum


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events stream table — the
    batch twin of the streaming tumbling-window query. Timestamp parts
    extracted as ints under an explicit UTC session to stay
    tz-invariant across engines."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.groupBy(
            F.dayofmonth(ts).alias("day"),
            F.hour(ts).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day", "hour", "event_type")
    )


SQL_EVENTS_HOURLY = f"""
SELECT
  EXTRACT(day FROM ts) AS day,
  EXTRACT(hour FROM ts) AS hour,
  event_type,
  COUNT(*) AS n_events,
  {SQL_DSUM.format(x='value')} AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2, 3
ORDER BY day, hour, event_type
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` payload per
    event and aggregate the extracted field per event type. JSON-path
    extraction is expression-tier in both engines (Spark
    ``get_json_object`` / DuckDB ``json_extract_string``); the parse
    happens at the scan, so only (type, k) pairs reach the shuffle."""
    from magmapandas_spark.streaming.streams import read_events_batch

    events = read_events_batch(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_JSON = """
SELECT event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS k_sum,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
    AS k_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-based per-user deltas: value change and seconds elapsed
    since each user's previous event. Covers offset window functions
    (the suite otherwise exercises rank, sliding frames and cumulative
    frames); one shuffle on user_id."""
    from pyspark.sql import Window

    from magmapandas_spark.streaming.streams import read_events_batch

    events = read_events_batch(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return (
        events.select(
            "user_id",
            "event_id",
            F.round((F.col("value") - prev_v), 6).alias("value_delta"),
            (
                F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
            ).alias("gap_s"),
        )
        .filter(F.col("value_delta").isNotNull())
        .orderBy("user_id", "event_id")
    )


SQL_EVENT_DELTAS = """
SELECT user_id, event_id,
  ROUND(value - LAG(value) OVER w, 6) AS value_delta,
  CAST(FLOOR(epoch(ts)) AS BIGINT)
    - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY value_delta IS NOT NULL
ORDER BY user_id, event_id
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user via ``F.session_window`` —
    the batch twin of the streaming sessionization operator
    (streaming==batch parity is the engine's test strategy, SURVEY
    §2.9). Epoch-second timestamps so the value hash is tz- and
    precision-invariant across engines."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.select(ts.alias("ts"), "user_id", "value")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("session_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value over event time — the batch twin of the
    streaming ``applyInPandasWithState`` running-totals operator
    (streams.py), expressed as a frame-bounded window. Both engines add
    in the identical (ts, event_id) order, so the float accumulation is
    bit-deterministic."""
    from pyspark.sql import Window

    from magmapandas_spark.streaming.streams import read_events_batch

    events = read_events_batch(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("ts_s"),
            F.round(F.sum("value").over(w), 6).alias("running_value"),
            F.count(F.lit(1)).over(w).alias("n_so_far"),
        )
        .orderBy("user_id", "ts_s", "event_id")
    )


SQL_RUNNING_TOTALS = """
SELECT user_id, event_id,
  CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
  ROUND(SUM(value) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value,
  COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
FROM events
ORDER BY user_id, ts_s, event_id
"""


# Spark session_window: [first_event, last_event + gap); sessions merge
# iff the next event starts strictly before the current window end, so
# a new session begins when the gap is >= 30 min.
SQL_USER_SESSIONS = f"""
WITH marked AS (
  SELECT
    user_id, ts, value,
    CASE
      WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           >= INTERVAL 30 MINUTE THEN 1
      WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           IS NULL THEN 1
      ELSE 0
    END AS new_session
  FROM events
),
numbered AS (
  SELECT *,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS UNBOUNDED PRECEDING
    ) AS session_id
  FROM marked
)
SELECT
  CAST(FLOOR(EXTRACT(EPOCH FROM MIN(ts))) AS BIGINT) AS session_start,
  CAST(FLOOR(EXTRACT(EPOCH FROM MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT)
    AS session_end,
  user_id,
  COUNT(*) AS n_events,
  {SQL_DSUM.format(x='value')} AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_sliding_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour/1-hour sliding-window mean value per event type via
    ``F.window`` — the batch twin of the streaming sliding-window
    operator. Every event lands in exactly two windows; the oracle
    expands the same membership with UNNEST."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    ts = F.col("ts")
    return (
        events.select(ts.alias("ts"), "event_type", "value")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"),
                 "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
        .orderBy("window_start", "event_type")
    )


SQL_SLIDING_VALUE_AVG = """
WITH expanded AS (
  SELECT UNNEST([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS ws,
         event_type, value
  FROM events
)
SELECT CAST(FLOOR(EXTRACT(EPOCH FROM ws)) AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS avg_value
FROM expanded
GROUP BY ws, event_type
ORDER BY window_start, event_type
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "events_json": (q_events_json, SQL_EVENTS_JSON),
    "user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
    "running_totals": (q_running_totals, SQL_RUNNING_TOTALS),
    "event_deltas": (q_event_deltas, SQL_EVENT_DELTAS),
    "sliding_value_avg": (q_sliding_value_avg, SQL_SLIDING_VALUE_AVG),
}
