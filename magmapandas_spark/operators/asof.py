"""As-of and range joins (beyond-reference surface; the reference has
no temporal joins at all — SURVEY §2.3 notes Spark supplies the
relational join surface, and a training-data / event pipeline needs the
two temporal variants Spark itself lacks as built-ins).

- ``asof_join``: for every left row, the single most recent right row
  with ``right.on <= left.on`` (backward; or the earliest ``>=`` for
  forward), per partition key. Implemented as the classic
  union-and-window plan: tag sides, union, one window over
  ``(by, on, side)`` carrying the last non-null right payload forward.
  ONE shuffle on the partition keys, no range explosion, no driver
  materialization — the scale-safe shape at any corpus size (a
  sort-merge inequality join would re-sort per query and a
  broadcast-nested-loop would be quadratic).
- ``range_join_binned``: all (left, right) pairs with
  ``right.on ∈ [left.on − window, left.on)`` per key. Naive Spark
  inequality joins on a key devolve into per-key cross products; the
  scale path is time-bucketing: bin the right side once at the window
  width, explode each left row to its two covering bins, equi-join on
  ``(key, bin)`` and post-filter the exact range. Candidate blow-up is
  bounded at 2× the left side regardless of data scale.

Both have exact DuckDB oracles (ASOF JOIN is a DuckDB built-in; the
range join is a plain inequality join) — timestamps compare as exact
microsecond integers, so no float tolerance is involved.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = ("user_id",),
    value_cols: Sequence[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """Per-key as-of join: latest right row at-or-before each left row
    (``direction="backward"``), or earliest at-or-after (``"forward"``).

    Ties on ``(by, on)`` within the right side are resolved by the last
    value under the window order, which is only deterministic if
    ``(by, on)`` is unique on the right — pre-aggregate the right side
    when it is not (the gate query does).
    """
    by = list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in by and c != on]
    value_cols = list(value_cols)
    left_payload = [c for c in left.columns if c not in by and c != on]

    l_side = left.select(
        *by,
        F.col(on),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in left_payload],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c + suffix)
            for c in value_cols
        ],
        F.lit(None).cast(right.schema[on].dataType).alias(on + suffix),
    )
    r_side = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_payload
        ],
        *[F.col(c).alias(c + suffix) for c in value_cols],
        F.col(on).alias(on + suffix),
    )
    unioned = l_side.unionByName(r_side)

    # right rows (__side=0) must precede left rows at equal `on` in the
    # scan order so equal timestamps match — side stays ascending even
    # when the time axis flips for the forward scan.
    order = [F.col(on), F.col("__side")]
    if direction == "forward":
        order = [F.col(on).desc(), F.col("__side")]
    elif direction != "backward":
        raise ValueError(f"unknown direction: {direction!r}")
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(F.col(c + suffix), ignorenulls=True).over(w).alias(c + suffix)
        for c in [*value_cols, on]
    ]
    return (
        unioned.select(*by, on, "__side", *left_payload, *carried)
        .filter(F.col("__side") == 1)
        .drop("__side")
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = ("user_id",),
    window_us: int = 1_800_000_000,
    right_prefix: str = "r_",
) -> DataFrame:
    """All (left, right) pairs with
    ``left.on − window <= right.on < left.on`` per key, via bin-bucketed
    equi-join (half-open so a row never pairs with itself at zero lag).

    Right rows land in one bin of width ``window_us``; any matching
    right row for a left row at bin *b* lies in bin *b−1* or *b*, so the
    left side explodes to exactly those two bins.
    """
    by = list(by)
    # cast() makes TIMESTAMP_NTZ parquet reads work too (value-preserving
    # under the engine's fixed UTC session timezone)
    l_us = F.unix_micros(F.col(on).cast("timestamp"))
    r_us = F.unix_micros(F.col(on).cast("timestamp"))
    r_binned = right.select(
        *by,
        F.floor(r_us / F.lit(window_us)).alias("__bin"),
        r_us.alias("__r_us"),
        *[
            F.col(c).alias(right_prefix + c)
            for c in right.columns
            if c not in by
        ],
    )
    l_binned = left.select(
        "*",
        l_us.alias("__l_us"),
        F.explode(
            F.array(
                F.floor(l_us / F.lit(window_us)) - 1,
                F.floor(l_us / F.lit(window_us)),
            )
        ).alias("__bin"),
    )
    joined = l_binned.join(r_binned, [*by, "__bin"]).filter(
        (F.col("__r_us") >= F.col("__l_us") - F.lit(window_us))
        & (F.col("__r_us") < F.col("__l_us"))
    )
    return joined.drop("__bin", "__l_us", "__r_us")


# ---- suite entries -----------------------------------------------------

def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent view: the as-of
    join every event/feature pipeline needs (feature value as of label
    time). Views are pre-aggregated to unique (user_id, ts) so the
    match is deterministic; wait_us is exact integer microseconds."""
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        purchases, views, on="ts", by=["user_id"], suffix="_view"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_view").alias("view_ts"),
        F.col("view_value_view").alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_view")).alias("wait_us"),
    ).orderBy("event_id")


SQL_ASOF_PURCHASE_VIEW = """
WITH v AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       v.ts AS view_ts, v.view_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS wait_us
FROM p
ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY event_id
"""


def q_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: clicks by the same user in the preceding 30
    minutes (count + exact decimal value sum) — the binned range join,
    aggregated back onto every purchase."""
    from magmapandas_spark.relational.suite import dsum
    from magmapandas_spark.streaming.streams import read_events_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_batch(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    pairs = range_join_binned(
        purchases, clicks, on="ts", by=["user_id"],
        window_us=1_800_000_000,
    )
    per_purchase = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        dsum(F.col("r_value")).alias("click_value"),
    )
    return (
        purchases.join(per_purchase, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            "click_value",
        )
        .orderBy("event_id")
    )


def sql_range_join_clicks() -> str:
    from magmapandas_spark.relational.suite import SQL_DSUM

    return f"""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.event_id,
         COUNT(*) AS n_clicks,
         {SQL_DSUM.format(x='c.value')} AS click_value
  FROM p JOIN c
    ON p.user_id = c.user_id
   AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
   AND epoch_us(c.ts) < epoch_us(p.ts)
  GROUP BY 1
)
SELECT p.event_id, p.user_id, p.ts,
       COALESCE(j.n_clicks, 0) AS n_clicks, j.click_value
FROM p LEFT JOIN j USING (event_id)
ORDER BY event_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "asof_purchase_view": (q_asof_purchase_view, SQL_ASOF_PURCHASE_VIEW),
    "range_join_clicks": (q_range_join_clicks, sql_range_join_clicks),
}
