"""Shared expression/numpy helpers for model modules.

Column-expression builders mirror the reference's composition handling
(``magmaFrame.py:177-264``, ``parse_io/parse.py:47-65``); numpy twins
power the pandas-UDF solver tier with identical semantics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame, csum


def solver_input(df: DataFrame) -> DataFrame:
    """Fit the input of a Python-UDF stage to one partition per core.

    Every Arrow-UDF task pays a fixed Python-worker cost (~0.2 s of CPU
    on a 4-core host, even for an empty function body), which dwarfs
    the per-row kernels on small inputs: over the 32-partition
    persisted melt, the toplis2005 Kd solver took 8-10 CPU s for 470
    rows whose UDF body runs in 0.08 s. A wider input is narrowed with
    ``coalesce`` (no shuffle); a narrower one is fanned out round-robin
    so the stage still uses every core. Every solver kernel is row-wise,
    so values do not depend on the partitioning.

    The width probe converts the plan to an RDD; on a plan with
    unmaterialized exchanges under AQE that runs them, so call this on
    the scan/cache side of a solver stage, not after a shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n > target:
        return df.coalesce(target)
    if n < target:
        return df.repartition(target)
    return df


def as_col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(float(x))


def components_expr(gf: GeoFrame, components: list[str]) -> dict[str, Column]:
    """check_components as expressions: null→0, missing→lit(0)."""
    comp = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in gf.species}
    for c in components:
        comp.setdefault(c, F.lit(0.0))
    return comp


def mole_fraction_exprs(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    mol = {
        s: c / F.lit(chem.calculate_weight(s))
        for s, c in comp.items()
        if s not in exclude
    }
    total = csum(mol.values())
    return {s: m / total for s, m in mol.items()}


def cation_fraction_exprs(mol: dict[str, Column]) -> dict[str, Column]:
    """Cation mol fractions from oxide mol fractions
    (``magmaFrame.py:225-264``)."""
    cat: dict[str, Column] = {}
    for s, m in mol.items():
        name = chem.cation_name(s)
        e = m * F.lit(chem.cation_amount(s))
        cat[name] = cat[name] + e if name in cat else e
    total = csum(cat.values())
    return {n: e / total for n, e in cat.items()}


# ----------------------------------------------------------------------
# numpy twins (for solver-tier pandas UDFs)
# ----------------------------------------------------------------------

def mole_fractions_np(
    wt: dict[str, np.ndarray], exclude: tuple[str, ...] = ()
) -> dict[str, np.ndarray]:
    mol = {
        s: v / chem.calculate_weight(s)
        for s, v in wt.items()
        if s not in exclude
    }
    total = sum(mol.values())
    return {s: m / total for s, m in mol.items()}


def cation_fractions_np(mol: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    cat: dict[str, np.ndarray] = {}
    for s, m in mol.items():
        name = chem.cation_name(s)
        e = m * chem.cation_amount(s)
        cat[name] = cat[name] + e if name in cat else e
    total = sum(cat.values())
    return {n: e / total for n, e in cat.items()}


def feo_fe2o3_split_np(
    mol: dict[str, np.ndarray], Fe3Fe2: np.ndarray
) -> dict[str, np.ndarray]:
    """FeO/Fe2O3 split in mol space (``core/MagmaFrames/melt.py:225-262``),
    total-Fe given as FeO."""
    out = dict(mol)
    fe2_frac = 1.0 / (1.0 + Fe3Fe2)
    feo = mol["FeO"]
    out["FeO"] = feo * fe2_frac
    out["Fe2O3"] = feo * (1.0 - fe2_frac) / 2.0
    return out
