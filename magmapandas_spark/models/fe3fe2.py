"""Melt Fe3+/Fe2+ redox models.

Spark-native re-expression of the reference's
``src/MagmaPandas/Fe_redox/Fe3Fe2_models.py`` (registry at L1547-1549).

Tiering (SURVEY §4.2):

- expression tier — ``fixed``, ``borisov2018``, ``kress_carmichael1991``,
  ``jayasuriya2004``, ``putirka2016_6b``, ``putirka2016_6c``,
  ``oneill2018``, ``zhang2017``, ``hirschmann2022``,
  ``sun2024`` (parameterised Γ): pure Column expressions.
- solver tier — ``oneill2006``, ``armstrong2019``, ``deng2020``,
  ``sun2024`` (Γ from Deng dV/dP): Arrow-vectorized pandas UDFs where
  the per-row ``scipy.fsolve`` fixed-point of the reference
  (``Fe3Fe2_models.py:565-570, 834-835, 1025-1026``) becomes a
  *vectorized bisection* on g(x) − x over the whole batch.

Model functions take a dict of oxide-mol-fraction Columns (full melt
composition, volatiles included — matching the reference's use of
``self.moles()`` at ``core/MagmaFrames/melt.py:206``), plus T_K / fO2 /
P_bar Columns, and return a Fe3Fe2 Column.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import eos
from magmapandas_spark.models.common import (
    as_col,
    cation_fraction_exprs,
    cation_fractions_np,
    components_expr,
    csum,
    feo_fe2o3_split_np,
    mole_fraction_exprs,
    solver_column,
    solver_input,
    tp_column,
)

R = eos.R
LN10 = float(np.log(10.0))


def _log10(x: Column) -> Column:
    return F.log(x) / F.lit(LN10)


def _cat(mol: dict[str, Column]) -> dict[str, Column]:
    return cation_fraction_exprs(mol)


def _g(d: dict[str, Column], name: str) -> Column:
    return d.get(name, F.lit(0.0))


# ----------------------------------------------------------------------
# expression tier
# ----------------------------------------------------------------------

def fe3fe2_borisov2018(mol, T_K, fO2, P_bar=None) -> Column:
    """Borisov et al. (2018) eq. 4 (``Fe3Fe2_models.py:77-131``)."""
    m = _g
    part1 = (
        F.lit(0.207) * _log10(fO2)
        + F.lit(4633.3) / T_K
        - F.lit(0.445) * m(mol, "SiO2")
        - F.lit(0.900) * m(mol, "TiO2")
        + F.lit(1.532) * m(mol, "MgO")
    )
    part2 = (
        F.lit(0.314) * m(mol, "CaO")
        + F.lit(2.030) * m(mol, "Na2O")
        + F.lit(3.355) * m(mol, "K2O")
        - F.lit(4.851) * m(mol, "P2O5")
    )
    part3 = (
        F.lit(-3.081) * m(mol, "SiO2") * m(mol, "Al2O3")
        - F.lit(4.370) * m(mol, "SiO2") * m(mol, "MgO")
        - F.lit(1.852)
    )
    return F.pow(F.lit(10.0), part1 + part2 + part3)


_KC1991_D = {"Al2O3": -2.243, "FeO": -1.828, "CaO": 3.201, "Na2O": 5.854,
             "K2O": 6.215}


def fe3fe2_kress_carmichael1991(mol, T_K, fO2, P_bar) -> Column:
    """Kress & Carmichael (1991) eq. 7 (``Fe3Fe2_models.py:144-213``)."""
    a, b, c = 0.196, 1.1492e4, -6.675
    e, f_, g, h, T0 = -3.36, -7.01e-7, -1.54e-10, 3.85e-17, 1673.0
    P_Pa = as_col(P_bar) * F.lit(1e5)
    comps = csum(F.lit(d) * _g(mol, s) for s, d in _KC1991_D.items())
    part1 = F.lit(a) * F.log(fO2) + F.lit(b) / T_K + F.lit(c) + comps
    part2 = F.lit(e) * (
        F.lit(1.0) - F.lit(T0) / T_K - F.log(T_K / F.lit(T0))
    )
    part3 = (
        F.lit(f_) * P_Pa / T_K
        + F.lit(g) * ((T_K - F.lit(T0)) * P_Pa) / T_K
        + F.lit(h) * P_Pa**2 / T_K
    )
    return F.lit(2.0) * F.exp(part1 + part2 + part3)


_J2004_D = {"MgO": -0.487, "CaO": 2.201, "Na2O": 6.610, "K2O": 8.214,
            "Al2O3": -3.781, "P2O5": -62.79, "FeO": 1.377}


def fe3fe2_jayasuriya2004(mol, T_K, fO2, P_bar=None) -> Column:
    """Jayasuriya et al. (2004) eq. 12 (``Fe3Fe2_models.py:226-266``)."""
    comps = csum(F.lit(d) * _g(mol, s) for s, d in _J2004_D.items())
    return F.lit(2.0) * F.exp(
        F.lit(0.1967) * F.log(fO2) + F.lit(12420.0) / T_K - F.lit(7.054) + comps
    )


def fe3fe2_putirka2016_6b(mol, T_K, fO2, P_bar=None) -> Column:
    """Putirka (2016) eq. 6b (``Fe3Fe2_models.py:279-313``)."""
    part1 = F.lit(-6.53) + F.lit(10813.8) / T_K
    part2 = F.lit(0.19) * F.log(fO2) + F.lit(12.4) * (
        _g(mol, "Na2O") + _g(mol, "K2O")
    )
    part3 = F.lit(-3.44) * (
        _g(mol, "Al2O3") / (_g(mol, "Al2O3") + _g(mol, "SiO2"))
    ) + F.lit(4.15) * _g(mol, "CaO")
    return F.lit(2.0) * F.exp(part1 + part2 + part3)


def _nbo_t_expr(cat: dict[str, Column]) -> Column:
    """NBO/T with Al(IV) capping (``Fe3Fe2_models.py:378-406``)."""
    c = _g
    Al_IV = F.least(
        c(cat, "Al"),
        c(cat, "Na") + c(cat, "K") + F.lit(2.0) * (c(cat, "Ca") + c(cat, "Mg")),
    )
    tetrahedral = c(cat, "Si") + c(cat, "Ti") + Al_IV
    O = (
        F.lit(2.0) * (c(cat, "Si") + c(cat, "Ti"))
        + F.lit(1.5) * (c(cat, "Al") + c(cat, "Cr"))
        + (c(cat, "Fe") + c(cat, "Mn") + c(cat, "Mg") + c(cat, "Ca"))
        + F.lit(0.5) * (c(cat, "Na") + c(cat, "K"))
        + F.lit(2.5) * c(cat, "P")
    )
    NBO = F.lit(2.0) * O - F.lit(4.0) * tetrahedral
    return NBO / tetrahedral


def fe3fe2_putirka2016_6c(mol, T_K, fO2, P_bar=None) -> Column:
    """Putirka (2016) eq. 6c (``Fe3Fe2_models.py:326-376``)."""
    cat = _cat(mol)
    part1 = F.lit(-6.75) + F.lit(10634.9) / T_K + F.lit(0.195) * F.log(fO2)
    part2 = F.lit(7.9) * (_g(mol, "Na2O") + _g(mol, "K2O")) - F.lit(4.6) * _g(
        mol, "MgO"
    )
    part3 = (
        F.lit(0.54) * (_g(mol, "MgO") / (_g(mol, "MgO") + _g(mol, "FeO")))
        - F.lit(53.4) * _g(mol, "P2O5")
        + F.lit(1.07) * _nbo_t_expr(cat)
    )
    return F.lit(2.0) * F.exp(part1 + part2 + part3)


def fe3fe2_oneill2018(mol, T_K, fO2, P_bar=None) -> Column:
    """O'Neill et al. (2018) eq. 9a (``Fe3Fe2_models.py:880-924``)."""
    cat = _cat(mol)
    deltaQFM = _log10(fO2) - (F.lit(8.58) - F.lit(25050.0) / T_K)
    return F.pow(
        F.lit(10.0),
        F.lit(0.25) * deltaQFM
        - F.lit(1.36)
        + F.lit(2.4) * _g(cat, "Ca")
        + F.lit(2.0) * _g(cat, "Na")
        + F.lit(3.7) * _g(cat, "K")
        - F.lit(2.4) * _g(cat, "P"),
    )


def fe3fe2_zhang2017(mol, T_K, fO2, P_bar) -> Column:
    """Zhang et al. (2017) eq. 11, 'LC' parameters
    (``Fe3Fe2_models.py:1162-1233``)."""
    dVdT, a, b, c, d = 2.92, -6.376, 107257.0, 15095.0, 8.27e-2
    P = as_col(P_bar) * F.lit(1e5 / 1e9)
    part_1 = F.log(fO2) / F.lit(4.0) + F.lit(a) + F.lit(b) / (F.lit(R) * T_K)
    part_2 = (
        -(F.lit(20170.0) + F.lit(4.54) * (T_K - F.lit(1673.0)))
        * F.lit(16.6 / 3.0)
        * (F.pow(F.lit(1.0) + F.lit(0.241) * P, F.lit(0.75)) - F.lit(1.0))
        / (F.lit(R) * T_K)
    )
    part_3 = (F.lit(c) + F.lit(dVdT) * (T_K - F.lit(1673.0))) * F.lit(
        4.0 / (3.0 * d)
    )
    part_4 = (
        F.pow(F.lit(1.0) + F.lit(d) * P, F.lit(0.75)) - F.lit(1.0)
    ) / (F.lit(R) * T_K)
    return F.exp(part_1 + part_2 + part_3 * part_4)


# Armstrong (2019) Vinet-ish VdP — closed-form, reused by hirschmann2022
_ARMSTRONG_EOS = {"Fe2": (37.0, 8.0), "Fe3": (12.6, 1.3)}  # K_0, Kprime_0


def _armstrong_V0_expr(T_K: Column, phase: str) -> Column:
    """``Fe3Fe2_models.py:1120-1133`` (mm3/mol)."""
    if phase == "Fe2":
        return F.lit(13650.0) + F.lit(2.92) * (T_K - F.lit(1673.0))
    return F.lit(21070.0) + F.lit(4.54) * (T_K - F.lit(1673.0))


def _armstrong_VdP_expr(P_bar: Column, T_K: Column, phase: str) -> Column:
    """``Fe3Fe2_models.py:1088-1118`` (eq. S7-S10)."""
    K0, Kp = _ARMSTRONG_EOS[phase]
    Kpp = -Kp / K0
    P = P_bar / F.lit(1e4)
    V0 = _armstrong_V0_expr(T_K, phase)
    a = (1 + Kp) / (1 + Kp + K0 * Kpp)
    b = Kp / K0 - Kpp / (1 + Kp)
    c = (1 + Kp + K0 * Kpp) / (Kp**2 + Kp - K0 * Kpp)
    part_1 = F.lit(a) * (
        F.lit(1.0) - F.pow(F.lit(1.0) + F.lit(b) * P, F.lit(1.0 - c))
    )
    part_2 = F.lit(b * (c - 1)) * P
    return P * V0 * (F.lit(1.0 - a) + part_1 / part_2)


def _armstrong_dVdP_expr(P_bar: Column, T_K: Column) -> Column:
    """``Fe3Fe2_models.py:1080-1086`` — m3·Pa (J)."""
    return _armstrong_VdP_expr(P_bar, T_K, "Fe3") - _armstrong_VdP_expr(
        P_bar, T_K, "Fe2"
    )


_H2022 = dict(a=0.1917, b=-1.961, c=4158.1, dCp=33.25, T0=1673.15,
              y1=-520.46, y2=-185.37, y3=494.39, y4=1838.34, y5=2888.48,
              y6=3473.68, y7=-4473.6, y8=-1245.09, y9=-1156.86)


def fe3fe2_hirschmann2022(mol, T_K, fO2, P_bar) -> Column:
    """Hirschmann (2022) eq. 21 with Armstrong dV/dP
    (``Fe3Fe2_models.py:1246-1347``)."""
    p = _H2022
    cat = _cat(mol)
    comp = (
        F.lit(p["y1"]) * _g(cat, "Si")
        + F.lit(p["y2"]) * _g(cat, "Ti")
        + F.lit(p["y3"]) * _g(cat, "Mg")
        + F.lit(p["y4"]) * _g(cat, "Ca")
        + F.lit(p["y5"]) * _g(cat, "Na")
        + F.lit(p["y6"]) * _g(cat, "K")
        + F.lit(p["y7"]) * _g(cat, "P")
        + F.lit(p["y8"]) * _g(cat, "Si") * _g(cat, "Al")
        + F.lit(p["y9"]) * _g(cat, "Si") * _g(cat, "Mg")
    )
    dVdP = _armstrong_dVdP_expr(as_col(P_bar), T_K)
    part_1 = F.lit(p["a"]) * _log10(fO2) + F.lit(p["b"]) + F.lit(p["c"]) / T_K
    part_2 = (
        F.lit(-p["dCp"] / (R * np.log(10.0)))
        * (F.lit(1.0) - F.lit(p["T0"]) / T_K - F.log(T_K / F.lit(p["T0"])))
    )
    part_3 = -dVdP / (F.lit(R) * T_K * F.lit(LN10))
    part_4 = comp / T_K
    return F.pow(F.lit(10.0), part_1 + part_2 + part_3 + part_4)


_SUN2024 = dict(a0=2.1479, a1=-230.2593, a2=-1.8557e-4, a3=34.3293,
                a4=1.4138, a5=-17.3040, a6=-10.1820, a7=-6.7463,
                a8=-7.3886, a9=-14.5430, a10=-9.9776, a11=-16.1506,
                a12=-37.5572, h=2.1410)

# Γ(T,P) parameterisation (``Fe3Fe2_models.py:1386-1423``)
_SUN2024_GAMMA = {
    "t0": dict(b0=-1.75528e-01, b1=3.48174e00, b2=3.06370e00,
               b3=1.36134e-02, b4=1.52660e-05, c1=-4.68802e-01,
               c2=-3.58957e00, c3=-1.09496e-01, c4=-7.28938e-04),
    "t1": dict(b0=1.82549e-03, b1=-1.06395e-02, b2=-2.36645e-02,
               b3=-1.56206e-08, b4=-1.66849e-08, c1=1.44394e-03,
               c2=1.48791e-02, c3=-3.32256e-04, c4=5.45464e-07),
    "t2": dict(b0=-2.14783e-04, b1=1.19184e-03, b2=2.76222e-03,
               b3=-3.92864e-07, b4=1.56116e-09, c1=-1.60439e-04,
               c2=-1.69242e-03, c3=4.31406e-05, c4=-4.43921e-08),
}


def _sun2024_t_expr(name: str, P_bar: Column) -> Column:
    p = _SUN2024_GAMMA[name]
    P = P_bar / F.lit(1e4)
    P0 = 1e-4
    part_1 = F.lit(p["b0"]) * P**2 * F.log(P / F.lit(P0))
    part_2 = csum(
        F.lit(p[f"b{n}"]) * F.pow(P - F.lit(P0), F.lit(float(n)))
        + F.lit(p[f"c{n}"]) * F.pow(P - F.lit(P0), F.lit(n - 0.5))
        for n in range(1, 5)
    )
    return part_1 + part_2


def sun2024_gamma_parameterised(T_K: Column, P_bar: Column) -> Column:
    t0 = _sun2024_t_expr("t0", P_bar)
    t1 = _sun2024_t_expr("t1", P_bar)
    t2 = _sun2024_t_expr("t2", P_bar)
    return t0 + t1 * T_K + t2 * T_K * F.log(T_K)


def fe3fe2_sun2024(mol, T_K, fO2, P_bar, gamma: Column | None = None) -> Column:
    """Sun & Yao (2024) eq. 9 (``Fe3Fe2_models.py:1360-1534``).

    ``gamma=None`` → closed-form parameterised Γ (expression tier);
    pass a Γ column (e.g. from the Deng dV/dP UDF) for the ``dV='deng'``
    path."""
    p = _SUN2024
    cat = _cat(mol)
    Fe = _g(cat, "Fe")
    omega = (
        F.lit(p["a1"])
        + F.lit(p["a2"]) * F.pow(T_K, F.lit(1.5))
        + F.lit(p["a3"]) * F.log(T_K)
    )
    phi = (
        F.lit(p["a4"]) * F.log(Fe)
        + F.lit(p["a5"]) * F.sqrt(Fe)
        + F.lit(p["a6"]) * F.pow(_g(cat, "Si"), F.lit(3.0))
        + F.lit(p["a7"]) * _g(cat, "Al")
        + F.lit(p["a8"]) * _g(cat, "Ti")
        + F.lit(p["a9"]) * _g(cat, "Ca")
        + F.lit(p["a10"]) * _g(cat, "Mg")
        + (F.lit(p["a11"]) + F.lit(p["a12"]) * Fe)
        * (_g(cat, "Na") + _g(cat, "K"))
    )
    if gamma is None:
        gamma = sun2024_gamma_parameterised(T_K, as_col(P_bar))
    return F.pow(
        F.lit(10.0),
        (_log10(fO2) - omega - phi - F.lit(p["h"]) * gamma)
        / (F.lit(4.0) + F.lit(p["a0"]) * F.sqrt(Fe)),
    )


# ----------------------------------------------------------------------
# solver tier (numpy kernels + pandas UDFs)
# ----------------------------------------------------------------------

_DENG_GIBBS = dict(a=-331035.9211346371, b=-190.3795512883899,
                   c=14.785873706952849, d=-0.0016487959655627517,
                   e=9348044.389346942, f=10773.299613088355)
_DENG_MARGULES = {"Mg": 68629.0, "Si": 4601.0, "Al": 40923.0,
                  "Ca": -58109.0, "Na": 0.0, "K": -59584.0, "P": 0.0,
                  "Ti": 0.0}
_DENG_FE_MARGULES = -14210.0
# 12.5 mol% Fe parameter set (``Fe3Fe2_models.py:462-481``)
_DENG_EOS = {
    "Fe2": dict(V_0=1180.114014, K_0=26.94713861, Kprime_0=2.802531871,
                Kprime_prime_0=0.012313472,
                tp=dict(a=35.79397483, b=71.10313668, c=36.59545225)),
    "Fe3": dict(V_0=1204.763652, K_0=23.19530062, Kprime_0=3.216089358,
                Kprime_prime_0=0.009340183,
                tp=dict(a=34.52616394, b=68.64429623, c=35.27069116)),
}
_DENG_FORMULA_UNITS = 2.0
_DENG_TREF = 3000.0
_A3_TO_CM3 = 1e-24


def deng_gibbs0(T_K):
    """``Fe3Fe2_models.py:599-612``."""
    p = _DENG_GIBBS
    T = np.asarray(T_K, dtype=float)
    return (
        p["a"] + p["b"] * T + p["c"] * T * np.log(T) + p["d"] * T**2
        + p["e"] / T + p["f"] * np.sqrt(T)
    )


def _deng_volume(T_K, P_bar, phase: str):
    """BM4 + thermal-pressure volume solve, vectorized bisection
    (``Fe3Fe2_models.py:624-671``). Returns cm3 per mol Fe."""
    p = _DENG_EOS[phase]
    T = np.asarray(T_K, dtype=float)
    P_GPa = np.asarray(P_bar, dtype=float) / 1e4
    T, P_GPa = np.broadcast_arrays(T, P_GPa)
    V0 = p["V_0"]
    tp = p["tp"]

    def f(v):
        bm = eos.birch_murnaghan_4th_order(
            v, V0, p["K_0"], p["Kprime_0"], p["Kprime_prime_0"]
        )
        coeff = (tp["a"] - tp["b"] * (v / V0) + tp["c"] * (v / V0) ** 2) / 1000.0
        return bm + coeff * (T - _DENG_TREF) - P_GPa

    lo = np.full_like(T, V0 * 0.2)
    hi = np.full_like(T, V0 * 1.6)
    V = eos.bisect_vectorized(f, lo, hi)
    return V / _DENG_FORMULA_UNITS * eos.AVOGADRO * _A3_TO_CM3


def deng_dVdP(T_K, P_bar, Pbar_min: float = 1.0, Pbar_step: float = 5e2):
    """ΔV(Fe3−Fe2) trapezoid-integrated over pressure
    (``Fe3Fe2_models.py:702-733``) → m3·Pa per mol.

    Deduplicates (T,P) pairs (sample-independent) and vectorizes the
    volume solves over each pair's whole pressure grid."""
    T = np.asarray(T_K, dtype=float)
    P = np.asarray(P_bar, dtype=float)
    T, P = np.broadcast_arrays(T, P)
    shape = T.shape
    pairs = np.stack([T.ravel(), P.ravel()], axis=1)
    uniq, inv = np.unique(pairs, axis=0, return_inverse=True)

    # flatten ALL pairs' pressure grids into one vector so the two
    # EOS volume bisections run once over everything (a python loop
    # over pairs costs ~2 ms each — 2000 distinct conditions = 4 s)
    grids = [
        np.arange(Pbar_min, pb + Pbar_step, Pbar_step) for _, pb in uniq
    ]
    lengths = np.array([len(g) for g in grids])
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    flat_P = np.concatenate(grids)
    flat_T = np.repeat(uniq[:, 0], lengths)
    dv = (
        _deng_volume(flat_T, flat_P, "Fe3")
        - _deng_volume(flat_T, flat_P, "Fe2")
    ) * 1e-6  # cm3 → m3
    x = flat_P * 1e5  # bar → Pa
    # segmented trapezoid: interval contributions, zeroed across
    # segment boundaries, summed per segment with reduceat
    c = 0.5 * (dv[1:] + dv[:-1]) * (x[1:] - x[:-1])
    c[offsets[1:-1] - 1] = 0.0
    out = np.add.reduceat(
        np.concatenate([c, [0.0]]), offsets[:-1]
    )
    return out[inv].reshape(shape)


def _fe3fe2_fixed_point_np(g, lo=1e-8, hi=100.0, iters=80):
    """Solve g(x) = x by vectorized bisection on h(x)=g(x)−x."""
    return eos.bisect_vectorized(lambda x: g(x) - x, lo, hi, iters)


def oneill2006_np(mol: dict[str, np.ndarray], T_K, P_bar, fO2):
    """O'Neill (2006) eq. 10 fixed point (``Fe3Fe2_models.py:764-867``)."""
    T = np.asarray(T_K, dtype=float)
    P_GPa = np.asarray(P_bar, dtype=float) / 1e4
    log10fO2 = np.log10(np.asarray(fO2, dtype=float))
    part_2 = (
        13.95
        + (33122.0 / T - 5.24) * ((1 + 0.241 * P_GPa) ** 0.75 - 1)
        - (39156.0 / T - 6.17) * ((1 + 0.132 * P_GPa) ** 0.75 - 1)
    )

    def g(x):
        cat = cation_fractions_np(feo_fe2o3_split_np(mol, x))
        z = np.zeros_like(T)
        part_1 = (
            -28144.0
            + 3905.0 * cat.get("Mg", z)
            - 13359.0 * cat.get("Ca", z)
            - 14858.0 * cat.get("Na", z)
            - 9805.0 * cat.get("K", z)
            + 10906.0 * cat.get("Al", z)
            + 110971.0 * cat.get("P", z)
            - 11952.0 * (cat.get("Fe", z) - cat.get("Fe3", z))
        ) / T
        return 10.0 ** ((log10fO2 - part_1 - part_2) / 4.0)

    lo = np.full_like(T, 1e-8)
    return _fe3fe2_fixed_point_np(g, lo, np.full_like(T, 100.0))


_ARM_MARGULES = {"Mg": -2248.0, "Ca": 7690.0, "Na": 8553.0, "K": 5644.0,
                 "Al": -6278.0}
_ARM_FE_MARGULES = 6880.0


def _armstrong_VdP_np(P_bar, T_K, phase):
    K0, Kp = _ARMSTRONG_EOS[phase]
    Kpp = -Kp / K0
    P = np.asarray(P_bar, dtype=float) / 1e4
    T = np.asarray(T_K, dtype=float)
    V0 = (
        13650.0 + 2.92 * (T - 1673.0)
        if phase == "Fe2"
        else 21070.0 + 4.54 * (T - 1673.0)
    )
    a = (1 + Kp) / (1 + Kp + K0 * Kpp)
    b = Kp / K0 - Kpp / (1 + Kp)
    c = (1 + Kp + K0 * Kpp) / (Kp**2 + Kp - K0 * Kpp)
    part_1 = a * (1 - (1 + b * P) ** (1 - c))
    part_2 = b * (c - 1) * P
    return P * V0 * (1 - a + part_1 / part_2)


def armstrong_dVdP_np(P_bar, T_K):
    return _armstrong_VdP_np(P_bar, T_K, "Fe3") - _armstrong_VdP_np(
        P_bar, T_K, "Fe2"
    )


def armstrong2019_np(mol: dict[str, np.ndarray], T_K, P_bar, fO2):
    """Armstrong et al. (2019) eq. S12 fixed point
    (``Fe3Fe2_models.py:937-1149``)."""
    T = np.asarray(T_K, dtype=float)
    lnfO2 = np.log(np.asarray(fO2, dtype=float))
    gibbs0 = -(16201.0 / T - 8.031) * (R * T)
    dVdP = armstrong_dVdP_np(P_bar, T)

    def g(x):
        cat = cation_fractions_np(feo_fe2o3_split_np(mol, x))
        z = np.zeros_like(T)
        sum_margules = sum(
            coef * cat.get(n, z) for n, coef in _ARM_MARGULES.items()
        )
        act = sum_margules / T + _ARM_FE_MARGULES * (
            (cat.get("Fe", z) - cat.get("Fe3", z)) / T
        )
        return np.exp(lnfO2 / 4.0 - (gibbs0 + dVdP) / (R * T) + act)

    lo = np.full_like(T, 1e-8)
    return _fe3fe2_fixed_point_np(g, lo, np.full_like(T, 100.0))


def deng2020_np(mol: dict[str, np.ndarray], T_K, P_bar, fO2):
    """Deng et al. (2020) eq. 3 fixed point
    (``Fe3Fe2_models.py:419-751``)."""
    T = np.asarray(T_K, dtype=float)
    lnfO2 = np.log(np.asarray(fO2, dtype=float))
    gibbs0 = deng_gibbs0(T)
    dVdP = deng_dVdP(T, P_bar)

    def g(x):
        cat = cation_fractions_np(feo_fe2o3_split_np(mol, x))
        z = np.zeros_like(T)
        sum_margules = sum(
            coef * cat.get(n, z) for n, coef in _DENG_MARGULES.items()
        )
        act = (
            sum_margules
            + (cat.get("Fe", z) - cat.get("Fe3", z)) * _DENG_FE_MARGULES
        ) / (R * T)
        return np.exp(-(gibbs0 + dVdP) / (R * T) - act + lnfO2 / 4.0)

    lo = np.full_like(T, 1e-8)
    return _fe3fe2_fixed_point_np(g, lo, np.full_like(T, 100.0))


_SOLVER_MODELS_NP = {
    "oneill2006": oneill2006_np,
    "armstrong2019": armstrong2019_np,
    "deng2020": deng2020_np,
}


# ----------------------------------------------------------------------
# top-level API
# ----------------------------------------------------------------------

EXPR_MODELS = {
    "borisov2018": fe3fe2_borisov2018,
    "kress_carmichael1991": fe3fe2_kress_carmichael1991,
    "jayasuriya2004": fe3fe2_jayasuriya2004,
    "putirka2016_6b": fe3fe2_putirka2016_6b,
    "putirka2016_6c": fe3fe2_putirka2016_6c,
    "oneill2018": fe3fe2_oneill2018,
    "zhang2017": fe3fe2_zhang2017,
    "hirschmann2022": fe3fe2_hirschmann2022,
    "sun2024": fe3fe2_sun2024,
}

SOLVER_MODELS = ("oneill2006", "armstrong2019", "deng2020", "sun2024_deng")

Fe3Fe2_models = list(EXPR_MODELS) + list(SOLVER_MODELS) + ["fixed"]


def calculate_Fe3Fe2(
    melt: GeoFrame,
    T_K,
    P_bar,
    model: str = "sun2024",
    fO2: Column | None = None,
    fO2_buffer: str = "QFM",
    dfO2: float = 1.0,
    fixed_value: float | None = None,
    out_col: str = "Fe3Fe2",
) -> DataFrame:
    """Engine equivalent of ``Melt.Fe3Fe2`` + dispatcher
    (``core/MagmaFrames/melt.py:162-223``,
    ``Fe_redox/Fe3Fe2_calculate.py:6-38``): melt wt.% → mol fractions →
    fO2 from the configured buffer (if not given) → model → Fe3Fe2
    column appended to the input DataFrame."""
    from magmapandas_spark.models import fo2 as fo2mod

    T = as_col(T_K)
    P = as_col(P_bar)
    if model == "fixed":
        if fixed_value is None:
            raise ValueError("fixed model needs fixed_value")
        return melt.df.withColumn(out_col, F.lit(float(fixed_value)))
    if fO2 is None:
        fO2 = fo2mod.calculate_fO2(T, P, fO2_buffer=fO2_buffer, dfO2=dfO2)

    comp = components_expr(melt, [])
    mol = mole_fraction_exprs(comp)

    if model in EXPR_MODELS:
        expr = EXPR_MODELS[model](mol, T, fO2, P)
        return melt.df.withColumn(out_col, expr)
    if model == "sun2024_deng":
        # Γ = Deng dV/dP / (R·T) (``Fe3Fe2_models.py:1428-1439``)
        gamma = tp_column(lambda t, p: deng_dVdP(t, p) / (R * t), T, P)
        expr = fe3fe2_sun2024(mol, T, fO2, P, gamma=gamma)
        return solver_input(melt.df).withColumn(out_col, expr)
    if model in _SOLVER_MODELS_NP:
        fn = _SOLVER_MODELS_NP[model]
        species = list(melt.species)
        inputs = {s: mol[s] for s in species}
        inputs |= {"__T_K": T, "__P_bar": P, "__fO2": fO2}
        col = solver_column(
            lambda a: fn({s: a[s] for s in species}, a["__T_K"],
                         a["__P_bar"], a["__fO2"]),
            inputs,
        )
        return solver_input(melt.df).withColumn(out_col, col)
    raise ValueError(f"unknown Fe3Fe2 model {model!r}")


def register_fe3fe2_model(name: str, expr_builder=None, np_kernel=None):
    """Extension hook for Fe3+/Fe2+ models (ABC subclassing in the
    reference, ``Fe_redox/Fe3Fe2_baseclass.py:27``): register either a
    Column-expression builder ``f(mol, T_K, fO2, P_bar) -> Column``
    (expression tier) or a numpy kernel
    ``f(mol_np, T_K, P_bar, fO2) -> ndarray`` (solver tier).
    Registered names dispatch through :func:`calculate_Fe3Fe2` and
    appear in ``Fe3Fe2_models``."""
    if expr_builder is None and np_kernel is None:
        raise ValueError("provide expr_builder or np_kernel")
    if expr_builder is not None:
        EXPR_MODELS[name] = expr_builder
    if np_kernel is not None:
        _SOLVER_MODELS_NP[name] = np_kernel
    if name not in Fe3Fe2_models:
        Fe3Fe2_models.append(name)
