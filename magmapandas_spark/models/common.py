"""Shared expression/numpy helpers for model modules.

Column-expression builders mirror the reference's composition handling
(``magmaFrame.py:177-264``, ``parse_io/parse.py:47-65``); numpy twins
power the pandas-UDF solver tier with identical semantics.
"""

from __future__ import annotations

import sys
import zipimport

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame, csum


def drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11 each cached zipimporter
    then re-reads its archive's whole central directory: a worker
    caches ~17 of them (``pyspark.zip`` x12, the ``spark-core`` jar x2,
    py4j x2, the package zip), ~0.2 s of CPU per task. A deleted
    finder is rebuilt on demand by the path hooks from
    ``zipimport._zip_directory_cache`` without a re-read, so imports
    still resolve; an import that adds finders back is undone by the
    next call."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def solver_input(df: DataFrame) -> DataFrame:
    """Fit the input of a Python-UDF stage to one partition per core.

    Every Arrow-UDF task pays a fixed Python-worker cost, which dwarfs
    the per-row kernels on small inputs: over a 32-partition melt, the
    toplis2005 Kd solver took 8-10 CPU s for 470 rows whose UDF body
    runs in 0.08 s. A wider input is narrowed with ``coalesce`` (no
    shuffle); a narrower one is fanned out round-robin so the stage
    still uses every core. The persisted synthetic melt already has one
    partition per core, so on it this is a no-op. Every solver kernel
    is row-wise, so values do not depend on the partitioning.

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


def solver_column(
    kernel,
    inputs: dict[str, Column],
    outputs: tuple[str, ...] = (),
    nan_on_error: bool = False,
) -> Column:
    """The solver tier's one Arrow UDF: ``inputs`` travel to the Python
    worker as one struct (fields in dict order), and each Arrow batch
    reaches ``kernel`` as a dict of float arrays keyed like ``inputs``.
    The kernel returns one array (a ``double`` column) when ``outputs``
    is empty, else one array per name (a ``struct<outputs: double>``).

    With ``nan_on_error`` a batch on which the kernel raises is split in
    halves and each half retried; a single row that still raises becomes
    NaN in every output (the reference's per-row NaN on a failed solve,
    ``melt.py:410-413``). Kernels are row-wise, so every other row keeps
    its value whatever the batching, and a batch that solves costs one
    kernel call. Without it the error propagates.

    Each batch first runs :func:`drop_zip_finders`, which keeps the
    worker's next task from re-reading its zip archives."""
    names = list(inputs)
    struct = F.struct(*[c.alias(k) for k, c in inputs.items()])

    def solve(arrays: dict[str, np.ndarray]) -> list[np.ndarray]:
        try:
            out = kernel(arrays)
        except Exception:
            if not nan_on_error:
                raise
            n = len(arrays[names[0]])
            if n <= 1:
                return [np.full(n, np.nan)] * max(len(outputs), 1)
            halves = [
                solve({k: v[part] for k, v in arrays.items()})
                for part in (slice(None, n // 2), slice(n // 2, None))
            ]
            return [np.concatenate(cols) for cols in zip(*halves)]
        return [np.asarray(o, dtype=float) for o in (out if outputs else [out])]

    schema = (
        StructType([StructField(o, DoubleType()) for o in outputs])
        if outputs else DoubleType()
    )

    # a DataFrame or a Series return hint both make a scalar pandas UDF
    @pandas_udf(schema)
    def solver(batch: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        cols = solve({k: batch[k].to_numpy(dtype=float) for k in names})
        if outputs:
            return pd.DataFrame(dict(zip(outputs, cols)))
        return pd.Series(cols[0])

    return solver(struct)


def tp_column(fn, T_K, P_bar) -> Column:
    """A sample-independent kernel ``fn(T, P) -> array`` (fO2 buffers,
    Γ) as a :func:`solver_column`: each Arrow batch evaluates its
    distinct (T, P) pairs once, since real tables hold few distinct
    conditions. Row-wise, so values do not depend on the batching."""

    def kernel(a: dict[str, np.ndarray]) -> np.ndarray:
        pairs = np.stack([a["T_K"], a["P_bar"]], axis=1)
        uniq, inv = np.unique(pairs, axis=0, return_inverse=True)
        return np.asarray(fn(uniq[:, 0], uniq[:, 1]))[inv]

    return solver_column(kernel, {"T_K": as_col(T_K), "P_bar": as_col(P_bar)})


def as_col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(float(x))


def components_expr(gf: GeoFrame, components: list[str]) -> dict[str, Column]:
    """check_components as expressions (``parse_io/parse.py:47-65``):
    null→0, missing→lit(0)."""
    comp = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in gf.species}
    for c in components:
        comp.setdefault(c, F.lit(0.0))
    return comp


def mole_fraction_exprs(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    """wt.% → mol fraction over the included species
    (``magmaFrame.py:356-385`` with normalise=True)."""
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
