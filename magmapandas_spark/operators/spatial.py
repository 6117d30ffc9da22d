"""Spatial nearest-neighbor via grid-cell bucketing (beyond-reference
surface).

The canonical Spark pattern for a spatial join at scale: quantize
coordinates into grid cells, replicate one side into its 3x3 cell
neighborhood (a constant-factor explode, NOT a cross join), equi-join
on the cell key, then reduce to the nearest candidate per probe row.
The equi-join keeps Catalyst in a plain shuffled hash join keyed on
the cell — the shape that survives 100 TB, unlike a theta-join on
distance.

Determinism: coordinates are synthetic integer micro-degrees derived
from md5 of the entity key (the suite's portable-hash playbook), so
distances are exact BIGINT squared micro-degrees — no trig, no
floats, no cross-engine ulp risk. Date-line wraparound is documented
out of scope (cells clip at the antimeridian; both engines agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from magmapandas_spark.relational.suite import _t

__all__ = ["grid_nearest", "q_geo_nearest", "SQL_GEO_NEAREST"]

_CELL_UDEG = 10_000_000  # 10-degree cells in micro-degrees


def _coord(prefix: str, key_col: str, span: int, shift: int):
    """48-bit md5 integer -> micro-degree coordinate in [-shift, span-shift).

    Same text the oracle evaluates as
    ('0x' || substr(md5(prefix || key), 1, 12))::BIGINT % span - shift.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), F.col(key_col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    return (h % span) - shift


def _with_coords(df: DataFrame, key_col: str) -> DataFrame:
    return df.select(
        F.col(key_col).alias("k"),
        _coord("lat", key_col, 180_000_000, 90_000_000).alias("lat"),
        _coord("lon", key_col, 360_000_000, 180_000_000).alias("lon"),
    )


def grid_nearest(
    probes: DataFrame,
    corpus: DataFrame,
    probe_key: str,
    corpus_key: str,
) -> DataFrame:
    """Nearest corpus point per probe within the 3x3 grid-cell
    neighborhood; probes with an empty neighborhood surface with NULL
    neighbor and n_candidates = 0 (left join, honest recall)."""
    # floor-div semantics for negatives: explicit FLOOR over the exact
    # double quotient (|coord| < 2^28, so the division is exact)
    p = _with_coords(probes, probe_key).select(
        F.col("k").alias("pk"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        F.expr(f"CAST(FLOOR(lon / {_CELL_UDEG}) AS BIGINT)").alias("cx"),
        F.expr(f"CAST(FLOOR(lat / {_CELL_UDEG}) AS BIGINT)").alias("cy"),
    )
    c = (
        _with_coords(corpus, corpus_key)
        .select(
            F.col("k").alias("ck"),
            F.col("lat").alias("clat"),
            F.col("lon").alias("clon"),
            F.expr(f"CAST(FLOOR(lon / {_CELL_UDEG}) AS BIGINT)").alias("bx"),
            F.expr(f"CAST(FLOOR(lat / {_CELL_UDEG}) AS BIGINT)").alias("by"),
        )
        .select(
            "ck",
            "clat",
            "clon",
            F.explode(
                F.expr(
                    "array(-1, 0, 1)"
                )
            ).alias("dx"),
            "bx",
            "by",
        )
        .select(
            "ck",
            "clat",
            "clon",
            (F.col("bx") + F.col("dx")).alias("cx"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
            "by",
        )
        .select(
            "ck",
            "clat",
            "clon",
            "cx",
            (F.col("by") + F.col("dy")).alias("cy"),
        )
    )
    # the replicated corpus side is dimension-sized (9 rows per
    # point) — broadcast it so the probe side never shuffles; at
    # planet scale swap to a cell-bucketed co-partitioned join
    joined = p.join(F.broadcast(c), ["cx", "cy"], "left").select(
        "pk",
        "ck",
        (
            (F.col("plat") - F.col("clat")) * (F.col("plat") - F.col("clat"))
            + (F.col("plon") - F.col("clon"))
            * (F.col("plon") - F.col("clon"))
        ).alias("d2"),
    )
    # n_keep=1 argmin per probe + candidate count — ONE
    # map-side-combined aggregate instead of the former row_number
    # window + count window (r12, the ivf_topk rewrite applied here):
    # min(struct(d2, ck)) twins `ORDER BY d2 ASC NULLS LAST, ck` —
    # the null orderings CAN differ (struct comparison puts nulls
    # first, the window put them last), but a probe's rows are either
    # all real matches or the single all-null left-join row (a left
    # equi-join emits one or the other, never both), so the argmin is
    # identical in every reachable group. Property-tested in
    # tests/test_argmin_agg_equivalence.py, including the no-candidate
    # group.
    return (
        joined.groupBy("pk")
        .agg(
            F.count("ck").alias("n_candidates"),
            F.min(F.struct(F.col("d2"), F.col("ck"))).alias("m"),
        )
        .select(
            F.col("pk").alias("probe_key"),
            F.col("m.ck").alias("nearest_key"),
            F.col("m.d2").alias("d2"),
            "n_candidates",
        )
        .orderBy("probe_key")
    )


def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: nearest supplier per (1/11 slice of) customers via
    3x3 grid-cell bucketed join, exact integer squared distances."""
    cust = spark.read.parquet(_t(sf_dir, "customer")).filter(
        F.expr("c_custkey % 11 = 0")
    )
    supp = spark.read.parquet(_t(sf_dir, "supplier"))
    return grid_nearest(cust, supp, "c_custkey", "s_suppkey")


def _sql_coord(prefix: str, key: str, span: int, shift: int) -> str:
    return (
        f"('0x' || substr(md5('{prefix}' || CAST({key} AS VARCHAR)), 1, 12))"
        f"::BIGINT % {span} - {shift}"
    )


SQL_GEO_NEAREST = f"""
WITH p AS (
  SELECT c_custkey AS pk,
         {_sql_coord("lat", "c_custkey", 180_000_000, 90_000_000)} AS plat,
         {_sql_coord("lon", "c_custkey", 360_000_000, 180_000_000)} AS plon
  FROM customer WHERE c_custkey % 11 = 0
),
p2 AS (
  SELECT pk, plat, plon,
         CAST(FLOOR(plon / {_CELL_UDEG}) AS BIGINT) AS cx,
         CAST(FLOOR(plat / {_CELL_UDEG}) AS BIGINT) AS cy
  FROM p
),
c AS (
  SELECT s_suppkey AS ck,
         {_sql_coord("lat", "s_suppkey", 180_000_000, 90_000_000)} AS clat,
         {_sql_coord("lon", "s_suppkey", 360_000_000, 180_000_000)} AS clon
  FROM supplier
),
c2 AS (
  SELECT ck, clat, clon,
         CAST(FLOOR(clon / {_CELL_UDEG}) AS BIGINT) + dx.o AS cx,
         CAST(FLOOR(clat / {_CELL_UDEG}) AS BIGINT) + dy.o AS cy
  FROM c,
       (SELECT UNNEST([-1, 0, 1]) AS o) dx,
       (SELECT UNNEST([-1, 0, 1]) AS o) dy
),
joined AS (
  SELECT p2.pk, c2.ck,
         (p2.plat - c2.clat) * (p2.plat - c2.clat)
           + (p2.plon - c2.clon) * (p2.plon - c2.clon) AS d2
  FROM p2 LEFT JOIN c2 ON c2.cx = p2.cx AND c2.cy = p2.cy
),
ranked AS (
  SELECT pk, ck, d2,
         ROW_NUMBER() OVER (PARTITION BY pk
                            ORDER BY d2 ASC NULLS LAST,
                                     ck ASC NULLS LAST) AS rn,
         COUNT(ck) OVER (PARTITION BY pk) AS n_candidates
  FROM joined
)
SELECT pk AS probe_key, ck AS nearest_key, d2, n_candidates
FROM ranked WHERE rn = 1
ORDER BY probe_key
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "geo_nearest": (q_geo_nearest, SQL_GEO_NEAREST),
}
