"""Olivine-melt Fe-Mg partition coefficients (Kd).

Spark-native re-expression of the reference's
``src/MagmaPandas/Kd/Ol_melt/FeMg/`` package (registry at
``Kd_models.py:755-759``).

- expression tier: ``fixed``, ``putirka2016_8a/8b/8c/8d``, ``sun2020``,
  ``observed`` and ``equilibrium_forsterite`` — pure Column expressions.
- iteration tier: ``toplis2005``, ``blundy2020``, ``saper2022`` — the
  per-row forsterite fixed point (``Kd_iterate.py:103-174``) runs inside
  an Arrow-vectorized pandas UDF: the loop body is cheap numpy over the
  whole batch with per-row convergence masks, exactly the reference's
  ``iterate_Kd_vectorized`` semantics (|ΔFo|/Fo ≤ 1e-3), with no
  multi-job driver loops (SURVEY §7 risk 5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import eos
from magmapandas_spark.models.common import (
    as_col,
    cation_fraction_exprs,
    cation_fractions_np,
    csum,
    mole_fraction_exprs,
    solver_input,
)

R = eos.R

KD_ERRORS = {
    "toplis2005": 0.02,
    "putirka2016_8a": 4.4e-2,
    "putirka2016_8b": 4.4e-2,
    "putirka2016_8c": 4e-2,
    "putirka2016_8d": 4.2e-2,
    "sun2020": 0.03,
    "saper2022": 0.0141,
}
# blundy2020 alkali-binned errors (``Kd_models.py:276``)
BLUNDY_ERRORS = [(6.0, 0.019), (9.0, 0.04), (np.inf, 0.063)]


# ----------------------------------------------------------------------
# expression tier
# ----------------------------------------------------------------------

def equilibrium_forsterite_expr(mol, Kd, Fe3Fe2) -> Column:
    """``Kd_iterate.py:8-28``: Fo_eq = 1/(1 + Kd·Fe2+/Mg)."""
    fe2_fetot = F.lit(1.0) / (F.lit(1.0) + Fe3Fe2)
    fe2mg = mol["FeO"] * fe2_fetot / mol["MgO"]
    return F.lit(1.0) / (F.lit(1.0) + Kd * fe2mg)


def observed_kd_expr(melt_mol, forsterite, Fe3Fe2) -> Column:
    """Observed Kd from measured olivine+melt
    (``Kd_calculate.py:12-62``)."""
    fo = as_col(forsterite)
    fe2_fetot = F.lit(1.0) / (F.lit(1.0) + Fe3Fe2)
    melt_mgfe = melt_mol["MgO"] / (melt_mol["FeO"] * fe2_fetot)
    ol_mgfe = fo / (F.lit(1.0) - fo)
    return melt_mgfe / ol_mgfe


def kd_putirka2016_8a(wt, T_K=None, P_bar=None, Fe3Fe2=None) -> Column:
    """constant 0.33 (``Kd_models.py:422-443``)."""
    return F.lit(0.33)


def kd_putirka2016_8b(wt, T_K=None, P_bar=0.0, Fe3Fe2=None) -> Column:
    """``Kd_models.py:446-491``; input wt.% oxides."""
    P_GPa = as_col(P_bar) / F.lit(1e4)
    g = lambda s: wt.get(s, F.lit(0.0))
    return (
        F.lit(0.21)
        + F.lit(8e-3) * P_GPa
        + F.lit(2.5e-3) * g("SiO2")
        + F.lit(-3.63e-4) * F.pow(g("Na2O") + g("K2O"), F.lit(2.0))
    )


def kd_putirka2016_8c(wt, T_K=None, P_bar=None, Fe3Fe2=None) -> Column:
    """``Kd_models.py:494-533``."""
    g = lambda s: wt.get(s, F.lit(0.0))
    return (
        F.lit(0.25)
        + F.lit(1.8e-3) * g("SiO2")
        + F.lit(-3.27e-4) * F.pow(g("Na2O") + g("K2O"), F.lit(2.0))
    )


def kd_putirka2016_8d(wt, T_K=None, P_bar=0.0, Fe3Fe2=None) -> Column:
    """``Kd_models.py:536-593``."""
    g = lambda s: wt.get(s, F.lit(0.0))
    P_GPa = as_col(P_bar) / F.lit(1e4)
    al_no = g("Al2O3") / (g("Al2O3") + g("SiO2"))
    return (
        F.lit(0.6)
        + F.lit(1.3e-2) * P_GPa
        + F.lit(1.6e-2) * g("SiO2")
        + F.lit(-1.73e-4) * F.pow(g("SiO2"), F.lit(2.0))
        + F.lit(1.79e-2) * g("Al2O3")
        + F.lit(-2.6) * al_no
        + F.lit(2.11e-1) * F.log(al_no)
        + F.lit(3.19e-5) * F.pow(g("Na2O") + g("K2O"), F.lit(3.0))
    )


def kd_sun2020(mol, wt, Fe3Fe2) -> Column:
    """Sun & Dasgupta (2020) eq. 7 (``Kd_models.py:596-652``) on the
    volatile-free cation-per-oxygen basis."""
    volatiles = ("H2O", "CO2")
    oxides = [
        s for s in mol if s not in volatiles and chem.oxygen_amount(s) > 0
    ]
    o_moles = {s: mol[s] * F.lit(chem.oxygen_amount(s)) for s in oxides}
    total_o = csum(o_moles.values())
    per_ox = {}
    for s in oxides:
        cpo = chem.cation_amount(s) / chem.oxygen_amount(s)
        from fractions import Fraction as _Fr

        name = f"{chem.cation_name(s)}{_Fr(cpo).limit_denominator()}O"
        per_ox[name] = o_moles[s] / total_o * F.lit(cpo)
    kd_fetot = F.exp(
        F.lit(-1.65)
        + F.lit(1.22) * F.sqrt(per_ox.get("Mg1O", F.lit(0.0)))
        + F.lit(2.45) * per_ox.get("Na2O", F.lit(0.0))
        + F.lit(0.54) * (wt.get("H2O", F.lit(0.0)) / F.lit(100.0))
    )
    fe3_fetot = Fe3Fe2 / (F.lit(1.0) + Fe3Fe2)
    return kd_fetot / (F.lit(1.0) - fe3_fetot)


def blundy_error_expr(wt) -> Column:
    """Alkali-binned 1σ (``Kd_models.py:377-412``)."""
    alk = wt.get("Na2O", F.lit(0.0)) + wt.get("K2O", F.lit(0.0))
    return (
        F.when(alk < 6.0, F.lit(0.019))
        .when(alk < 9.0, F.lit(0.04))
        .otherwise(F.lit(0.063))
    )


# ----------------------------------------------------------------------
# iteration tier (numpy kernels)
# ----------------------------------------------------------------------

def _toplis_SiO2A_np(mol: dict[str, np.ndarray]) -> np.ndarray:
    """Adjusted molar SiO2 (``Kd_models.py:131-179``)."""
    z = np.zeros_like(mol["SiO2"])
    sio2 = mol["SiO2"] * 100.0
    na2o = mol.get("Na2O", z) * 100.0
    k2o = mol.get("K2O", z) * 100.0
    phi_low = (0.46 * (100.0 / (100.0 - sio2)) - 0.93) * (na2o + k2o) + (
        -5.33 * (100.0 / (100.0 - sio2)) + 9.69
    )
    phi_high = (11.0 - 5.5 * (100.0 / (100.0 - sio2))) * np.exp(
        -0.31 * (na2o + k2o)
    )
    phi = np.where(sio2 > 60.0, phi_high, phi_low)
    sio2_a = sio2 + phi * (na2o + k2o)
    if "H2O" in mol:
        sio2_a = sio2_a + 0.8 * mol["H2O"] * 100.0
    return sio2_a


def toplis2005_kd_np(mol, forsterite, T_K, P_bar, **_):
    """``Kd_models.py:181-219``."""
    sio2_a = _toplis_SiO2A_np(mol)
    return np.exp(
        (-6766.0 / (R * T_K) - 7.34 / R)
        + np.log(0.036 * sio2_a - 0.22)
        + (3000.0 * (1.0 - 2.0 * forsterite) / (R * T_K))
        + (0.035 * (P_bar - 1.0) / (R * T_K))
    )


def blundy2020_kd_np(mol, forsterite, T_K, P_bar, Fe3Fe2=None, **_):
    """``Kd_models.py:291-320`` (Fe3Fe2 from borisov2018 upstream)."""
    fe3_fetot = Fe3Fe2 / (1.0 + Fe3Fe2)
    kd_fetot = 0.3642 * (1.0 - fe3_fetot) * np.exp(
        (312.7 * (1.0 - 2.0 * forsterite)) / T_K
    )
    return kd_fetot / (1.0 - fe3_fetot)


def saper2022_kd_np(mol, forsterite, T_K, P_bar=None, **_):
    """``Kd_models.py:664-705``."""
    cat = cation_fractions_np(mol)
    z = np.zeros_like(T_K)
    gibbs = (-6766.0 - 7.34 * T_K) / (R * T_K)
    melt_term = (
        1.0445 * cat.get("Si", z)
        - 1.3125 * cat.get("Ti", z)
        - 3.0550 * cat.get("Si", z) * (cat.get("Na", z) + cat.get("K", z))
    )
    ol_term = 3040.0 * (1.0 - 2.0 * forsterite) / (R * T_K)
    return np.exp(gibbs + melt_term + ol_term)


def iterate_kd_np(
    kd_fn, mol, T_K, P_bar, Fe3Fe2, forsterite_init=0.85,
    fo_converge=0.001, max_iter=100,
):
    """Vectorized forsterite fixed point with per-row convergence masks —
    semantics of ``iterate_Kd_vectorized`` (``Kd_iterate.py:103-174``),
    same |ΔFo|/Fo ≤ 1e-3 stop rule.

    Converged rows are FROZEN (no further kd/fo updates), so each row's
    trajectory depends only on its own inputs — results are identical
    under any Arrow batch / partition split (the reference's
    whole-array update drifts converged rows by how long the slowest row
    in the same batch iterates). This also makes the recurrence
    per-row-expressible as a recursive-CTE oracle."""
    T = np.asarray(T_K, dtype=float)
    fo = np.full_like(T, float(forsterite_init))
    fe2_fetot = 1.0 / (1.0 + Fe3Fe2)
    fe2mg = mol["FeO"] * fe2_fetot / mol["MgO"]

    kd = kd_fn(mol, fo, T, P_bar, Fe3Fe2=Fe3Fe2)
    fo_eq = 1.0 / (1.0 + kd * fe2mg)
    active = np.abs(fo - fo_eq) / fo > fo_converge
    it = 0
    while active.any() and it < max_iter:
        kd_new = kd_fn(mol, fo_eq, T, P_bar, Fe3Fe2=Fe3Fe2)
        fo_eq_new = 1.0 / (1.0 + kd_new * fe2mg)
        kd = np.where(active, kd_new, kd)
        fo = np.where(active, fo_eq, fo)
        fo_eq = np.where(active, fo_eq_new, fo_eq)
        active = active & (np.abs(fo - fo_eq) / fo > fo_converge)
        it += 1
    return kd


_KD_SOLVER_NP = {
    "toplis2005": toplis2005_kd_np,
    "blundy2020": blundy2020_kd_np,
    "saper2022": saper2022_kd_np,
}


def _kd_solver_udf(model: str, species: list[str]):
    kd_fn = _KD_SOLVER_NP[model]

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def udf(comp: pd.DataFrame) -> pd.Series:
        mol = {s: comp[s].to_numpy(dtype=float) for s in species}
        out = iterate_kd_np(
            kd_fn,
            mol,
            comp["__T_K"].to_numpy(dtype=float),
            comp["__P_bar"].to_numpy(dtype=float),
            comp["__Fe3Fe2"].to_numpy(dtype=float),
        )
        return pd.Series(np.asarray(out, dtype=float))

    return udf


# ----------------------------------------------------------------------
# top-level API
# ----------------------------------------------------------------------

Kd_models = ["fixed", "toplis2005", "blundy2020", "putirka2016_8a",
             "putirka2016_8b", "putirka2016_8c", "putirka2016_8d",
             "sun2020", "saper2022"]

# extension registry (``Kd/Kd_baseclass.py:6``; reference registry at
# ``Kd/Ol_melt/FeMg/Kd_models.py:755-759``): expression tier
_KD_EXPR_REGISTRY: dict = {}


def register_kd_model(name: str, expr_builder=None, np_kernel=None) -> None:
    """Extension hook for olivine-melt Fe-Mg Kd models — the engine
    twin of subclassing ``Kd_model`` in the reference
    (``Kd/Kd_baseclass.py:6``, extending.rst). Register either:

    - ``expr_builder(wt, mol, T_K, P_bar, Fe3Fe2) -> Column`` —
      expression tier (wt = renormalised wt.% columns, mol = oxide mole
      fractions); or
    - ``np_kernel(mol, forsterite, T_K, P_bar, Fe3Fe2=...) -> ndarray``
      — solver tier, iterated through the forsterite fixed point
      exactly like toplis2005/blundy2020/saper2022.

    Registered names dispatch through :func:`calculate_FeMg_Kd` and
    appear in ``Kd_models``."""
    if expr_builder is None and np_kernel is None:
        raise ValueError("provide expr_builder or np_kernel")
    if expr_builder is not None:
        _KD_EXPR_REGISTRY[name] = expr_builder
    if np_kernel is not None:
        _KD_SOLVER_NP[name] = np_kernel
    if name not in Kd_models:
        Kd_models.append(name)


def calculate_FeMg_Kd(
    melt: GeoFrame,
    T_K,
    P_bar,
    model: str = "toplis2005",
    Fe3Fe2: Column | None = None,
    fO2_buffer: str = "QFM",
    dfO2: float = 1.0,
    Fe3Fe2_model: str = "sun2024",
    fixed_value: float | None = None,
    out_col: str = "Kd",
) -> DataFrame:
    """Engine equivalent of ``Melt.Kd_olivine_FeMg_eq`` + dispatcher
    (``core/MagmaFrames/melt.py:276-316``, ``Kd_calculate.py:65-102``):
    melt wt.% → mol fractions → (Fe3Fe2 chain if not given) → Kd.

    For ``blundy2020`` the reference forces Fe3Fe2 from borisov2018 with
    buffer fO2 (``Kd_models.py:352-362``) — reproduced here."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod

    T = as_col(T_K)
    P = as_col(P_bar)
    if model == "fixed":
        if fixed_value is None:
            raise ValueError("fixed model needs fixed_value")
        return melt.df.withColumn(out_col, F.lit(float(fixed_value)))

    comp = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in melt.species}
    mol = mole_fraction_exprs(comp)
    # wt.% renormalised (mol → wt backtrack is just the normalised input)
    total_wt = csum(comp.values())
    wt = {s: comp[s] / total_wt * F.lit(100.0) for s in comp}

    if Fe3Fe2 is None:
        fO2_col = fo2_mod.calculate_fO2(T, P, fO2_buffer=fO2_buffer, dfO2=dfO2)
        if model == "blundy2020":
            # the reference forces borisov2018 for blundy2020
            # (``Kd_models.py:352-362``); an explicitly passed Fe3Fe2
            # column overrides this (engine extension)
            Fe3Fe2 = fe_mod.fe3fe2_borisov2018(mol, T, fO2_col)
        else:
            Fe3Fe2 = fe_mod.EXPR_MODELS[Fe3Fe2_model](mol, T, fO2_col, P)

    if model == "putirka2016_8a":
        return melt.df.withColumn(out_col, kd_putirka2016_8a(wt))
    if model == "putirka2016_8b":
        return melt.df.withColumn(out_col, kd_putirka2016_8b(wt, P_bar=P))
    if model == "putirka2016_8c":
        return melt.df.withColumn(out_col, kd_putirka2016_8c(wt))
    if model == "putirka2016_8d":
        return melt.df.withColumn(out_col, kd_putirka2016_8d(wt, P_bar=P))
    if model == "sun2020":
        return melt.df.withColumn(out_col, kd_sun2020(mol, wt, Fe3Fe2))
    if model in _KD_EXPR_REGISTRY:
        expr = _KD_EXPR_REGISTRY[model](wt, mol, T, P, Fe3Fe2)
        return melt.df.withColumn(out_col, expr)
    if model in _KD_SOLVER_NP:
        fields = {s: mol[s] for s in melt.species}
        fields["__T_K"] = T
        fields["__P_bar"] = P
        fields["__Fe3Fe2"] = Fe3Fe2
        struct = F.struct(*[v.alias(k) for k, v in fields.items()])
        udf = _kd_solver_udf(model, melt.species)
        return solver_input(melt.df).withColumn(out_col, udf(struct))
    raise ValueError(f"unknown Kd model {model!r}")


def observed_FeMg_Kd(
    melt: GeoFrame,
    forsterite,
    T_K,
    P_bar,
    Fe3Fe2: Column | None = None,
    fO2_buffer: str = "QFM",
    dfO2: float = 1.0,
    Fe3Fe2_model: str = "sun2024",
    out_col: str = "Kd_observed",
) -> DataFrame:
    """``Kd_calculate.py:12-62``: observed Kd from melt + olivine Fo."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod

    T = as_col(T_K)
    P = as_col(P_bar)
    comp = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in melt.species}
    mol = mole_fraction_exprs(comp)
    if Fe3Fe2 is None:
        fO2_col = fo2_mod.calculate_fO2(T, P, fO2_buffer=fO2_buffer, dfO2=dfO2)
        Fe3Fe2 = fe_mod.EXPR_MODELS[Fe3Fe2_model](mol, T, fO2_col, P)
    return melt.df.withColumn(
        out_col, observed_kd_expr(mol, forsterite, Fe3Fe2)
    )
