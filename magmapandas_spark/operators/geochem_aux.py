"""Auxiliary geochemistry operators backing the reference's ``geoplot``
surface (``src/geoplot/``) — the data-producing parts re-expressed as
Spark plans; rendering stays driver-side on collected (tiny) results.

- :func:`rhodes_isopleth_grid` — ``geoplot/rhodes.py:5-19``: the Kd
  isopleth grid is a cross join of two literal ranges + one expression
  (SURVEY §2.8 marks it expr-able).
- :func:`reservoir_normalize` — spider-diagram normalization
  (``geoplot/trace_elements.py:79-121``): divide trace-element columns
  by a reservoir composition — per-column literal division, broadcast-
  free. C1-chondrite values of McDonough & Sun (1995) ship as the
  default reservoir (published data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# C1 chondrite, McDonough & Sun (1995), ppm — published reference values
C1_CHONDRITE = {
    "La": 0.237, "Ce": 0.613, "Pr": 0.0928, "Nd": 0.457, "Sm": 0.148,
    "Eu": 0.0563, "Gd": 0.199, "Tb": 0.0361, "Dy": 0.246, "Ho": 0.0546,
    "Er": 0.160, "Tm": 0.0247, "Yb": 0.161, "Lu": 0.0246,
    "Rb": 2.3, "Ba": 2.41, "Th": 0.029, "U": 0.0074, "Nb": 0.24,
    "Sr": 7.25, "Zr": 3.82, "Hf": 0.103, "Y": 1.57,
}

# Primitive mantle (pyrolite), McDonough & Sun (1995), ppm — the second
# reservoir the reference ships (``geoplot/trace_elements.py:39-46``)
PRIMITIVE_MANTLE = {
    "La": 0.648, "Ce": 1.675, "Pr": 0.254, "Nd": 1.25, "Sm": 0.406,
    "Eu": 0.154, "Gd": 0.544, "Tb": 0.099, "Dy": 0.674, "Ho": 0.149,
    "Er": 0.438, "Tm": 0.068, "Yb": 0.441, "Lu": 0.0675,
    "Rb": 0.6, "Ba": 6.6, "Th": 0.0795, "U": 0.0203, "Nb": 0.658,
    "Sr": 19.9, "Zr": 10.5, "Hf": 0.283, "Y": 4.3,
}

# N-MORB, Gale et al. (2013), ppm (``trace_elements.py:49-76``; Tm is
# unpublished for NMORB in that table and therefore absent here)
NMORB = {
    "La": 4.19, "Ce": 12.42, "Pr": 1.98, "Nd": 10.66, "Sm": 3.48,
    "Eu": 1.26, "Gd": 4.55, "Tb": 0.82, "Dy": 5.5, "Ho": 1.18,
    "Er": 3.42, "Yb": 3.28, "Lu": 0.48,
    "Rb": 1.84, "Ba": 19.6, "Th": 0.252, "U": 0.083, "Nb": 3.62,
    "Sr": 128.0, "Zr": 101.9, "Hf": 2.46, "Y": 33.2,
}

RESERVOIRS = {
    "C1": C1_CHONDRITE,
    "PM": PRIMITIVE_MANTLE,
    "NMORB": NMORB,
}


def rhodes_isopleth_grid(
    spark: SparkSession,
    kd_min: float = 0.1,
    kd_max: float = 0.4,
    stepsize: float = 0.1,
    mg_no_melt=(0.2, 1.0, 0.01),
) -> DataFrame:
    """Olivine-melt equilibrium isopleths for a Rhodes diagram
    (``rhodes.py:5-19``): Fo(mg#_melt, Kd) = 100/(1 + Kd·Fe2Mg_melt),
    as crossJoin(Kd levels × mg# range) + one expression."""
    kds = [
        round(v, 2)
        for v in np.arange(kd_min, kd_max + 0.01, stepsize)
    ]
    lo, hi, step = mg_no_melt
    n = int(round((hi - lo) / step))
    mg = spark.range(n).select(
        (F.lit(float(lo)) + F.col("id") * F.lit(float(step))).alias(
            "mg_no_melt"
        )
    )
    kd_df = spark.createDataFrame(
        pd.DataFrame({"Kd": [float(k) for k in kds]})
    )
    fe2mg = (F.lit(1.0) - F.col("mg_no_melt")) / F.col("mg_no_melt")
    return mg.crossJoin(F.broadcast(kd_df)).select(
        "mg_no_melt",
        "Kd",
        (F.lit(100.0) / (F.lit(1.0) + F.col("Kd") * fe2mg)).alias(
            "forsterite"
        ),
    )


def reservoir_normalize(
    df: DataFrame,
    elements: list[str] | None = None,
    reservoir: dict[str, float] | None = None,
    suffix: str = "_N",
) -> DataFrame:
    """Normalize trace-element columns to a reservoir composition
    (chondrite/primitive-mantle spider diagrams). Division by literals
    — fully codegen'd, no join."""
    if reservoir is None:
        reservoir = C1_CHONDRITE
    if elements is None:
        elements = [c for c in df.columns if c in reservoir]
    missing = [e for e in elements if e not in reservoir]
    if missing:
        raise ValueError(f"no reservoir value for {missing}")
    return df.withColumns(
        {
            f"{e}{suffix}": F.col(e) / F.lit(float(reservoir[e]))
            for e in elements
        }
    )


# ---- suite entries ----------------------------------------------------

_TRACE_SYNTH = ["La", "Ce", "Nd", "Yb"]


def q_chondrite_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chondrite-normalized trace elements (spider-diagram input,
    ``geoplot/trace_elements.py:79-121``): synthetic ppm columns derived
    from lineitem keys, divided by the McDonough & Sun (1995) C1
    literals. Narrow, zero-shuffle."""
    from magmapandas_spark.operators.dedup import fan_out

    # fan_out: single-row-group test file → 1-task scan; spread before
    # the projection + range sort
    li = fan_out(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("name"),
        (
            F.lit(1.0) + (F.col("l_partkey") % 50).cast("double") * F.lit(0.1)
        ).alias("La"),
        (
            F.lit(2.0) + (F.col("l_suppkey") % 40).cast("double") * F.lit(0.15)
        ).alias("Ce"),
        (
            F.lit(0.5) + (F.col("l_orderkey") % 30).cast("double") * F.lit(0.05)
        ).alias("Nd"),
        (
            F.lit(0.1) + (F.col("l_partkey") % 20).cast("double") * F.lit(0.02)
        ).alias("Yb"),
    )
    out = reservoir_normalize(base, elements=_TRACE_SYNTH)
    return out.select(
        "name",
        *[
            F.round(F.col(f"{e}_N"), 6).alias(f"{e}_N")
            for e in _TRACE_SYNTH
        ],
    ).orderBy("name")


def sql_chondrite_normalize() -> str:
    synth = {
        "La": "(1.0 + (l_partkey % 50) * 0.1)",
        "Ce": "(2.0 + (l_suppkey % 40) * 0.15)",
        "Nd": "(0.5 + (l_orderkey % 30) * 0.05)",
        "Yb": "(0.1 + (l_partkey % 20) * 0.02)",
    }
    cols = ",\n  ".join(
        f"ROUND({synth[e]} / {float(C1_CHONDRITE[e])!r}, 6) AS {e}_N"
        for e in _TRACE_SYNTH
    )
    return f"""
SELECT l_orderkey * 10 + l_linenumber AS name,
  {cols}
FROM lineitem
ORDER BY name
"""


def q_rhodes_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rhodes-diagram equilibrium isopleths (``geoplot/rhodes.py:5-19``):
    broadcast crossJoin of Kd levels x mg# range + one expression."""
    out = rhodes_isopleth_grid(spark)
    return out.select(
        F.round("mg_no_melt", 6).alias("mg_no_melt"),
        "Kd",
        F.round("forsterite", 6).alias("forsterite"),
    ).orderBy("mg_no_melt", "Kd")


def sql_rhodes_grid() -> str:
    kds = ", ".join(repr(v) for v in (0.1, 0.2, 0.3, 0.4))
    return f"""
WITH mg AS (
  SELECT 0.2 + CAST(i.i AS DOUBLE) * 0.01 AS mg_no_melt
  FROM UNNEST(range(80)) i(i)
),
kd AS (SELECT u.kd AS Kd FROM UNNEST([{kds}]) u(kd))
SELECT ROUND(mg_no_melt, 6) AS mg_no_melt, Kd,
       ROUND(100.0 / (1.0 + Kd * ((1.0 - mg_no_melt) / mg_no_melt)), 6)
         AS forsterite
FROM mg, kd
ORDER BY mg_no_melt, Kd
"""


# ----------------------------------------------------------------------
# TAS classification (total alkali vs silica, Le Bas et al. 1986)
# ----------------------------------------------------------------------
# The reference's ``geoplot/TAS_diagram.py:9-67`` draws the field
# boundary polylines from ``geoplot/data/TAS.csv``; the data-producing
# operation behind it is the polygon lookup assigning a rock name per
# (SiO2, Na2O+K2O) point. Both engines evaluate the SAME ordered list
# of half-plane tests (side-of-line cross products with literal
# vertices, generated from one Python spec), so classification is
# bit-identical in Spark and DuckDB — boundaries resolve to the first
# matching field in chain order.
#
# Field vertices are the published Le Bas et al. (1986) / Le Maitre
# (2002) boundaries — the same coordinates that appear as polyline
# breakpoints in the reference's TAS.csv.

def _ccw(poly: list[tuple[float, float]]) -> list[tuple[float, float]]:
    area2 = sum(
        poly[i][0] * poly[(i + 1) % len(poly)][1]
        - poly[(i + 1) % len(poly)][0] * poly[i][1]
        for i in range(len(poly))
    )
    return poly if area2 > 0 else list(reversed(poly))


# convex fields as vertex lists (auto-oriented CCW at build time);
# containment = every edge's side test >= 0 (boundary inclusive —
# chain order below decides ties deterministically in both engines)
_TAS_POLYGONS: list[tuple[str, list[tuple[float, float]]]] = [
    # tephrite hexagon is concave at (45,5) — split into two convex parts
    ("Tephrite", [(41.0, 3.0), (45.0, 3.0), (45.0, 9.4), (41.0, 7.0)]),
    ("Tephrite", [(45.0, 5.0), (45.0, 9.4), (49.4, 7.3)]),
    ("Phono-tephrite", [(45.0, 9.4), (48.4, 11.5), (53.0, 9.3), (49.4, 7.3)]),
    ("Tephri-phonolite", [(48.4, 11.5), (52.5, 14.0), (57.6, 11.7), (53.0, 9.3)]),
    ("Trachy-basalt", [(45.0, 5.0), (49.4, 7.3), (52.0, 5.0)]),
    ("Basaltic trachy-andesite", [(49.4, 7.3), (53.0, 9.3), (57.0, 5.9), (52.0, 5.0)]),
    ("Trachy-andesite", [(53.0, 9.3), (57.6, 11.7), (63.0, 7.0), (57.0, 5.9)]),
    ("Picro-basalt", [(41.0, 0.0), (41.0, 3.0), (45.0, 3.0), (45.0, 0.0)]),
    ("Basalt", [(45.0, 0.0), (45.0, 5.0), (52.0, 5.0), (52.0, 0.0)]),
    ("Basaltic andesite", [(52.0, 0.0), (52.0, 5.0), (57.0, 5.9), (57.0, 0.0)]),
    ("Andesite", [(57.0, 0.0), (57.0, 5.9), (63.0, 7.0), (63.0, 0.0)]),
    ("Dacite", [(63.0, 0.0), (63.0, 7.0), (69.0, 8.0), (77.3, 0.0)]),
]

# open (unbounded) fields as explicit half-plane combos, evaluated
# BEFORE the polygons; each entry: (name, list of OR-groups, each group
# an AND-list of primitive tests). Primitive tests:
#   ("side", A, B)  — strictly left of the directed line A→B
#   ("sidege", A, B) — left of or on the line
#   ("xlt"/"xge", v), ("ygt", v)
_TAS_OPEN: list[tuple[str, list[list[tuple]]]] = [
    (
        "Foidite",
        [
            [("xlt", 41.0), ("ygt", 3.0)],
            [("xge", 41.0), ("xlt", 45.0), ("side", (41.0, 7.0), (45.0, 9.4))],
            [("xge", 45.0), ("xlt", 52.5), ("side", (45.0, 9.4), (52.5, 14.0))],
        ],
    ),
    (
        "Phonolite",
        [
            [
                ("sidege", (52.5, 14.0), (57.6, 11.7)),
                ("sidege", (57.6, 11.7), (61.0, 13.5)),
                ("sidege", (61.0, 13.5), (63.0, 16.2)),
                ("xge", 52.5),
            ]
        ],
    ),
    (
        "Trachyte",
        [
            [
                ("side", (57.6, 11.7), (63.0, 7.0)),
                ("side", (52.0, 5.0), (69.0, 8.0)),
                ("sidege", (69.0, 8.0), (71.8, 13.5)),
            ]
        ],
    ),
    (
        "Rhyolite",
        [
            [
                ("side", (69.0, 8.0), (77.3, 0.0)),
                ("side", (71.8, 13.5), (69.0, 8.0)),
            ]
        ],
    ),
]


def _tas_rules() -> list[tuple[str, list[list[tuple]]]]:
    """The full ordered rule chain: open fields first, then the convex
    polygons compiled to edge AND-lists."""
    rules = list(_TAS_OPEN)
    for name, poly in _TAS_POLYGONS:
        ccw = _ccw(poly)
        edges = [
            ("sidege", ccw[i], ccw[(i + 1) % len(ccw)])
            for i in range(len(ccw))
        ]
        rules.append((name, [edges]))
    return rules


def _side_terms(a, b):
    """side(P; A, B) = (bx-ax)*(y-ay) - (by-ay)*(x-ax); >0 ⇔ P strictly
    left of A→B. Constants precomputed in Python so both engines see
    identical double literals."""
    (ax, ay), (bx, by) = a, b
    return float(bx - ax), float(by - ay), float(ax), float(ay)


def _tas_test_col(test, x, y):
    kind = test[0]
    if kind in ("side", "sidege"):
        dx, dy, ax, ay = _side_terms(test[1], test[2])
        side = F.lit(dx) * (y - F.lit(ay)) - F.lit(dy) * (x - F.lit(ax))
        return side > 0 if kind == "side" else side >= 0
    if kind == "xlt":
        return x < F.lit(float(test[1]))
    if kind == "xge":
        return x >= F.lit(float(test[1]))
    if kind == "ygt":
        return y > F.lit(float(test[1]))
    raise ValueError(f"unknown TAS test {test!r}")


def _tas_test_sql(test, x: str, y: str) -> str:
    kind = test[0]
    if kind in ("side", "sidege"):
        dx, dy, ax, ay = _side_terms(test[1], test[2])
        op = ">" if kind == "side" else ">="
        return (
            f"(CAST({dx!r} AS DOUBLE) * ({y} - CAST({ay!r} AS DOUBLE)) - "
            f"CAST({dy!r} AS DOUBLE) * ({x} - CAST({ax!r} AS DOUBLE))) {op} 0"
        )
    if kind == "xlt":
        return f"{x} < CAST({float(test[1])!r} AS DOUBLE)"
    if kind == "xge":
        return f"{x} >= CAST({float(test[1])!r} AS DOUBLE)"
    if kind == "ygt":
        return f"{y} > CAST({float(test[1])!r} AS DOUBLE)"
    raise ValueError(f"unknown TAS test {test!r}")


def tas_classify_col(x, y):
    """Rock-name Column for silica ``x`` and total-alkali ``y`` (wt.%):
    the ordered F.when chain compiled from the shared rule spec.
    Points outside every field (e.g. SiO2 < 41 at low alkali) map to
    'unclassified'."""
    expr = None
    for name, groups in _tas_rules():
        cond = None
        for group in groups:
            g = None
            for t in group:
                c = _tas_test_col(t, x, y)
                g = c if g is None else g & c
            cond = g if cond is None else cond | g
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return expr.otherwise(F.lit("unclassified"))


def tas_classify_sql(x: str, y: str) -> str:
    """The identical chain as a SQL CASE expression (same rule order,
    same literal arithmetic — bit-equal classification)."""
    whens = []
    for name, groups in _tas_rules():
        ors = " OR ".join(
            "(" + " AND ".join(_tas_test_sql(t, x, y) for t in group) + ")"
            for group in groups
        )
        whens.append(f"WHEN ({ors}) THEN '{name}'")
    body = "\n    ".join(whens)
    return f"CASE\n    {body}\n    ELSE 'unclassified' END"


def tas_classification(melt_df: DataFrame, normalize: bool = True) -> DataFrame:
    """Classify melt compositions on the TAS diagram.

    ``normalize=True`` applies the standard volatile-free renormalization
    to 100 wt.% before classification (TAS convention); the silica and
    alkali axes are returned alongside the rock name."""
    x, y = _tas_axes_col(melt_df, normalize)
    return melt_df.select(
        "name",
        F.round(x, 4).alias("sio2_n"),
        F.round(y, 4).alias("alkali_n"),
        tas_classify_col(x, y).alias("rock"),
    )


_TAS_ANHYDROUS = [
    "SiO2", "Al2O3", "TiO2", "MgO", "FeO", "CaO", "Na2O", "K2O",
    "MnO", "P2O5",
]


def _tas_axes_col(df, normalize):
    if not normalize:
        return F.col("SiO2"), F.col("Na2O") + F.col("K2O")
    total = None
    for s in _TAS_ANHYDROUS:
        c = F.col(s)
        total = c if total is None else total + c
    x = F.col("SiO2") * F.lit(100.0) / total
    y = (F.col("Na2O") + F.col("K2O")) * F.lit(100.0) / total
    return x, y


def q_tas_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAS gate query: classify the synthetic melt table (anhydrous-
    normalized axes). Narrow, zero-shuffle plan — the whole chain is
    one codegen'd CASE over two derived doubles."""
    from magmapandas_spark.relational.suite import synthetic_melt

    melt = synthetic_melt(spark, sf_dir)
    return tas_classification(melt.df).orderBy("name")


def sql_tas_classification() -> str:
    # CAST each oxide: some melt-CTE columns are DECIMAL in DuckDB, and
    # a partially-decimal fold rounds differently (1 ulp) than Spark's
    # pure double fold
    total = " + ".join(f"CAST({s} AS DOUBLE)" for s in _TAS_ANHYDROUS)
    x = f"(CAST(SiO2 AS DOUBLE) * 100.0 / ({total}))"
    y = (
        "((CAST(Na2O AS DOUBLE) + CAST(K2O AS DOUBLE)) * 100.0 / "
        f"({total}))"
    )
    from magmapandas_spark.relational.suite import SQL_MELT_CTE

    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({x}, 4) AS sio2_n,
  ROUND({y}, 4) AS alkali_n,
  {tas_classify_sql(x, y)} AS rock
FROM melt
ORDER BY name
"""


def q_reservoir_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-reservoir spider normalization: the synthetic trace columns
    against primitive mantle AND N-MORB in one projection (C1 is the
    separate ``chondrite_normalize`` query). Pure literal division."""
    from magmapandas_spark.operators.dedup import fan_out

    li = fan_out(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("name"),
        (
            F.lit(1.0) + (F.col("l_partkey") % 50).cast("double") * F.lit(0.1)
        ).alias("La"),
        (
            F.lit(2.0) + (F.col("l_suppkey") % 40).cast("double") * F.lit(0.15)
        ).alias("Ce"),
        (
            F.lit(0.5) + (F.col("l_orderkey") % 30).cast("double") * F.lit(0.05)
        ).alias("Nd"),
        (
            F.lit(0.1) + (F.col("l_partkey") % 20).cast("double") * F.lit(0.02)
        ).alias("Yb"),
    )
    pm = reservoir_normalize(
        base, elements=_TRACE_SYNTH, reservoir=PRIMITIVE_MANTLE, suffix="_PM"
    )
    both = reservoir_normalize(
        pm, elements=_TRACE_SYNTH, reservoir=NMORB, suffix="_MORB"
    )
    return both.select(
        "name",
        *[
            F.round(F.col(f"{e}_PM"), 6).alias(f"{e}_PM")
            for e in _TRACE_SYNTH
        ],
        *[
            F.round(F.col(f"{e}_MORB"), 6).alias(f"{e}_MORB")
            for e in _TRACE_SYNTH
        ],
    ).orderBy("name")


def sql_reservoir_normalize() -> str:
    synth = {
        "La": "(1.0 + (l_partkey % 50) * 0.1)",
        "Ce": "(2.0 + (l_suppkey % 40) * 0.15)",
        "Nd": "(0.5 + (l_orderkey % 30) * 0.05)",
        "Yb": "(0.1 + (l_partkey % 20) * 0.02)",
    }
    pm_cols = ",\n  ".join(
        f"ROUND({synth[e]} / {float(PRIMITIVE_MANTLE[e])!r}, 6) AS {e}_PM"
        for e in _TRACE_SYNTH
    )
    morb_cols = ",\n  ".join(
        f"ROUND({synth[e]} / {float(NMORB[e])!r}, 6) AS {e}_MORB"
        for e in _TRACE_SYNTH
    )
    return f"""
SELECT l_orderkey * 10 + l_linenumber AS name,
  {pm_cols},
  {morb_cols}
FROM lineitem
ORDER BY name
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "chondrite_normalize": (q_chondrite_normalize, sql_chondrite_normalize),
    "reservoir_normalize": (q_reservoir_normalize, sql_reservoir_normalize),
    "tas_classification": (q_tas_classification, sql_tas_classification),
    "rhodes_grid": (q_rhodes_grid, sql_rhodes_grid),
}
