"""CO2-H2O solubility & saturation pressure — Iacono-Marziano (2012).

Spark-native re-expression of the reference's
``src/MagmaPandas/volatile_solubility/volatile_solubility_models/
iaconomarziano2012.py`` and the saturation fan-out at
``core/MagmaFrames/melt.py:318-414``.

The reference runs one ``multiprocessing.Pool`` task per sample, each
doing nested scipy root-finding (``root_scalar`` inside
``scipy.optimize.root``). Here the whole batch solves simultaneously:

- H2O solubility (hydrous parameterisation, H2O feeds back into NBO/O):
  vectorized bisection in dissolved-H2O space (replaces the per-row
  secant at ``iaconomarziano2012.py:198-205``);
- saturation pressures: vectorized bisection in P (brackets
  [1e-15, 1.5e4] bar for H2O, [1e-10, 1e5] for CO2, matching
  ``iaconomarziano2012.py:236-243, 408-415``);
- mixed-fluid saturation: x_fluid solved from the H2O equation by an
  inner bisection, pressure from the CO2 residual by an outer one
  (replaces the 2-D hybr solve at ``iaconomarziano2012.py:477-487``
  with the same degenerate-case handling).

Exposed to Spark through ``models.common.solver_column``, the solver
tier's one Arrow UDF; Spark's scheduler replaces the Pool. A saturation
or isobar solve that fails gives NaN for that row only, under any
batching (parity with ``melt.py:410-413``).
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
    solver_column,
    solver_input,
)

W = chem.calculate_weight

# ``iaconomarziano2012.py:104-146``
H2O_COEFFS = {
    "hydrous_webapp": dict(a=0.52096846, b=2.11575907, B=-3.24443335,
                           C=-0.02238884),
    "hydrous_manuscript": dict(a=0.53, b=2.35, B=-3.37, C=-0.02),
    "anhydrous": dict(a=0.54, b=1.24, B=-2.95, C=0.02),
}
CO2_COEFFS = {
    "hydrous": dict(d_H2O=-16.4, d_AI=4.4, d_FM=-17.1, d_NK=22.8, a=1.0,
                    b=17.3, B=-6.0, C=0.12),
    "anhydrous": dict(d_H2O=2.3, d_AI=3.8, d_FM=-16.3, d_NK=20.1, a=1.0,
                      b=15.8, B=-5.3, C=0.14),
}

IM_COMPONENTS = ["SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O",
                 "K2O"]


def _mol_fractions(wt: dict[str, np.ndarray], h2o: np.ndarray):
    """Oxide mol fractions of composition with H2O replaced by ``h2o``
    (wt.%) — full renormalisation, as GeoFrame.moles()."""
    mol = {s: v / W(s) for s, v in wt.items() if s != "H2O"}
    mol["H2O"] = h2o / W("H2O")
    total = sum(mol.values())
    return {s: v / total for s, v in mol.items()}


def _nbo_o(mol: dict[str, np.ndarray], hydrous: bool):
    """NBO/O after Marrochhi & Toplis (``iaconomarziano2012.py:565-606``)."""
    z = 0.0
    g = lambda s: mol.get(s, z)
    fe2o3 = g("Fe2O3")
    NBO = 2 * (
        g("K2O") + g("Na2O") + g("CaO") + g("MgO") + g("FeO") + 2 * fe2o3
        - g("Al2O3")
    )
    O = (
        2 * g("SiO2") + 2 * g("TiO2") + 3 * g("Al2O3") + g("MgO")
        + g("FeO") + 2 * fe2o3 + g("CaO") + g("Na2O") + g("K2O")
    )
    if hydrous:
        NBO = NBO + 2 * g("H2O")
        O = O + g("H2O")
    return NBO / O


def h2o_solubility_np(
    wt: dict[str, np.ndarray], P_bar, T_K, x_fluid=1.0,
    parameters: str = "hydrous_webapp",
):
    """Dissolved H2O (wt.%) at P, T, x_fluid — eq. 13
    (``iaconomarziano2012.py:155-265``). Hydrous parameterisations solve
    the implicit equation by bisection in dissolved-H2O space."""
    c = H2O_COEFFS[parameters]
    P = np.asarray(P_bar, dtype=float)
    T = np.asarray(T_K, dtype=float)
    x = np.asarray(x_fluid, dtype=float)
    P, T, x = np.broadcast_arrays(P, T, x)
    hydrous = parameters != "anhydrous"

    P_H2O = x * P
    valid = (P > 0) & (x > 0)
    P_H2O_safe = np.where(valid, P_H2O, 1.0)

    def solubility(h2o_dissolved):
        mol = _mol_fractions(wt, h2o_dissolved)
        nbo_o = _nbo_o(mol, hydrous)
        return np.exp(
            c["a"] * np.log(P_H2O_safe) + c["b"] * nbo_o + c["B"]
            + c["C"] * P / T
        )

    if not hydrous:
        out = solubility(np.zeros_like(P))
        return np.where(valid, out, 0.0)

    lo = np.zeros_like(P)
    hi = np.full_like(P, 60.0)
    w = eos.bisect_vectorized(lambda v: v - solubility(v), lo, hi, iters=60)
    return np.where(valid, w, 0.0)


def co2_solubility_np(
    wt: dict[str, np.ndarray], P_bar, T_K, x_fluid=0.0,
    parameters: str = "hydrous_webapp",
):
    """Dissolved CO2 (wt.%) — eq. 12 (``iaconomarziano2012.py:297-374``).
    Dissolved H2O is solved first and feeds the CO2 equation."""
    hydrous = parameters != "anhydrous"
    cc = CO2_COEFFS["hydrous" if hydrous else "anhydrous"]
    P = np.asarray(P_bar, dtype=float)
    T = np.asarray(T_K, dtype=float)
    x = np.asarray(x_fluid, dtype=float)
    P, T, x = np.broadcast_arrays(P, T, x)

    valid = (P > 0) & ((1 - x) > 0)
    h2o_diss = h2o_solubility_np(wt, P, T, x, parameters)
    mol = _mol_fractions(wt, h2o_diss)
    nbo_o = _nbo_o(mol, hydrous)
    z = 0.0
    g = lambda s: mol.get(s, z)
    P_CO2 = (1 - x) * P
    P_CO2_safe = np.where(valid, P_CO2, 1.0)
    x_AI = g("Al2O3") / (g("CaO") + g("K2O") + g("Na2O"))
    x_FM = g("FeO") + g("MgO") + 2 * g("Fe2O3")
    x_NK = g("Na2O") + g("K2O")
    co3_ppm = np.exp(
        g("H2O") * cc["d_H2O"] + x_AI * cc["d_AI"] + x_FM * cc["d_FM"]
        + x_NK * cc["d_NK"] + cc["a"] * np.log(P_CO2_safe)
        + cc["b"] * nbo_o + cc["B"] + cc["C"] * P / T
    )
    return np.where(valid, co3_ppm / 1e4, 0.0)


def _ln_p_h2o_prefix(wt, h2o_obs, parameters):
    """P-independent prefix of eq. 13 inverted at saturation:
    (ln(w_obs) − b·NBO/O) − B. The composition (and therefore NBO/O)
    is FIXED during a saturation solve — only the −C·P/T tail varies
    with the bisection iterate — so the solvers compute this once per
    batch instead of once per iteration (61× fewer mol-fraction/NBO
    evaluations; the subtraction chain is split at an association
    boundary of the original left-to-right expression, so the final
    value is bit-identical)."""
    c = H2O_COEFFS[parameters]
    hydrous = parameters != "anhydrous"
    mol = _mol_fractions(wt, h2o_obs)
    nbo_o = _nbo_o(mol, hydrous)
    with np.errstate(divide="ignore"):
        return np.log(h2o_obs) - c["b"] * nbo_o - c["B"]


def _ln_p_h2o_partial(wt, h2o_obs, T_K, P_total, parameters):
    """ln P_H2O from eq. 13 inverted at saturation.

    At saturation the dissolved H2O equals the observed H2O, so
    a·ln(P_H2O) = ln(w_obs) − b·NBO/O(w_obs) − B − C·P/T — closed form
    in P_H2O given total P. This collapses the reference's nested
    root-finding into a single 1-D solve."""
    c = H2O_COEFFS[parameters]
    pre = _ln_p_h2o_prefix(wt, h2o_obs, parameters)
    return (pre - c["C"] * P_total / T_K) / c["a"]


def _ln_p_co2_prefix(wt, h2o_obs, co2_obs, parameters):
    """P-independent prefix of eq. 12 inverted at saturation (see
    :func:`_ln_p_h2o_prefix` for why: same association-boundary split,
    bit-identical result)."""
    hydrous = parameters != "anhydrous"
    cc = CO2_COEFFS["hydrous" if hydrous else "anhydrous"]
    mol = _mol_fractions(wt, h2o_obs)
    nbo_o = _nbo_o(mol, hydrous)
    z = 0.0
    g = lambda s: mol.get(s, z)
    x_AI = g("Al2O3") / (g("CaO") + g("K2O") + g("Na2O"))
    x_FM = g("FeO") + g("MgO") + 2 * g("Fe2O3")
    x_NK = g("Na2O") + g("K2O")
    with np.errstate(divide="ignore"):
        return (
            np.log(co2_obs * 1e4)
            - g("H2O") * cc["d_H2O"] - x_AI * cc["d_AI"]
            - x_FM * cc["d_FM"] - x_NK * cc["d_NK"]
            - cc["b"] * nbo_o - cc["B"]
        )


def _ln_p_co2_partial(wt, h2o_obs, co2_obs, T_K, P_total, parameters):
    """ln P_CO2 from eq. 12 inverted at saturation (a=1)."""
    hydrous = parameters != "anhydrous"
    cc = CO2_COEFFS["hydrous" if hydrous else "anhydrous"]
    pre = _ln_p_co2_prefix(wt, h2o_obs, co2_obs, parameters)
    return (pre - cc["C"] * P_total / T_K) / cc["a"]


def h2o_saturation_np(wt, h2o_obs, T_K, parameters="hydrous_webapp"):
    """Pure-H2O saturation pressure (``iaconomarziano2012.py:208-246``):
    1-D bisection on P = P_H2O(P), bracket [1e-15, 1.5e4] bar."""
    T = np.asarray(T_K, dtype=float)
    h2o_obs = np.asarray(h2o_obs, dtype=float)
    T, h2o_obs = np.broadcast_arrays(T, h2o_obs)
    safe = np.where(h2o_obs > 0, h2o_obs, 1.0)
    c = H2O_COEFFS[parameters]
    pre = _ln_p_h2o_prefix(wt, safe, parameters)

    def f(P):
        return np.exp((pre - c["C"] * P / T) / c["a"]) - P

    lo = np.full_like(T, 1e-15)
    hi = np.full_like(T, 1.5e4)
    out = eos.bisect_vectorized(f, lo, hi, iters=60)
    return np.where(h2o_obs > 0, out, 0.0)


def co2_saturation_np(wt, co2_obs, T_K, x_fluid=0.0,
                      parameters="hydrous_webapp"):
    """Pure-CO2 saturation pressure (``iaconomarziano2012.py:377-418``):
    dissolved H2O = 0 in a pure CO2 fluid; 1-D bisection on P,
    bracket [1e-10, 1e5] bar."""
    T = np.asarray(T_K, dtype=float)
    co2_obs = np.asarray(co2_obs, dtype=float)
    T, co2_obs = np.broadcast_arrays(T, co2_obs)
    safe = np.where(co2_obs > 0, co2_obs, 1.0)
    zero_h2o = np.zeros_like(T)
    hydrous = parameters != "anhydrous"
    cc = CO2_COEFFS["hydrous" if hydrous else "anhydrous"]
    pre = _ln_p_co2_prefix(wt, zero_h2o, safe, parameters)

    def f(P):
        return np.exp((pre - cc["C"] * P / T) / cc["a"]) - P

    lo = np.full_like(T, 1e-10)
    hi = np.full_like(T, 1e5)
    out = eos.bisect_vectorized(f, lo, hi, iters=60)
    return np.where(co2_obs > 0, out, 0.0)


def mixed_saturation_np(wt, h2o_obs, co2_obs, T_K,
                        parameters="hydrous_webapp"):
    """Mixed-fluid saturation (``iaconomarziano2012.py:439-490``):
    returns (P_bar, x_fluid).

    At saturation both partial pressures are closed-form in total P
    (dissolved == observed), so P solves P_H2O(P) + P_CO2(P) = P — one
    vectorized bisection. Degenerate fluids collapse to the
    pure-species pressures exactly as the reference does (L466-487)."""
    T = np.asarray(T_K, dtype=float)
    h2o_obs = np.asarray(h2o_obs, dtype=float)
    co2_obs = np.asarray(co2_obs, dtype=float)
    T, h2o_obs, co2_obs = np.broadcast_arrays(T, h2o_obs, co2_obs)

    P_h2o_sat = h2o_saturation_np(wt, h2o_obs, T, parameters)
    P_co2_sat = co2_saturation_np(wt, co2_obs, T, 0.0, parameters)

    w_safe = np.where(h2o_obs > 0, h2o_obs, 1.0)
    c_safe = np.where(co2_obs > 0, co2_obs, 1.0)
    c = H2O_COEFFS[parameters]
    hydrous = parameters != "anhydrous"
    cc = CO2_COEFFS["hydrous" if hydrous else "anhydrous"]
    pre_w = _ln_p_h2o_prefix(wt, w_safe, parameters)
    pre_c = _ln_p_co2_prefix(wt, w_safe, c_safe, parameters)

    def residual(P):
        p_h2o = np.exp((pre_w - c["C"] * P / T) / c["a"])
        p_co2 = np.exp((pre_c - cc["C"] * P / T) / cc["a"])
        return p_h2o + p_co2 - P

    lo = np.full_like(T, 1e-2)
    hi = np.full_like(T, 1e5)
    P = eos.bisect_vectorized(residual, lo, hi, iters=60)
    p_h2o = np.exp((pre_w - c["C"] * P / T) / c["a"])
    x = np.clip(p_h2o / P, 0.0, 1.0)

    # degenerate cases (reference L466-469, 483-487)
    P = np.where(h2o_obs <= 0, P_co2_sat, P)
    x = np.where(h2o_obs <= 0, 0.0, x)
    P = np.where(co2_obs <= 0, P_h2o_sat, P)
    x = np.where(co2_obs <= 0, 1.0, x)
    return P, x


# ----------------------------------------------------------------------
# Shishkina et al. (2014) (``volatile_solubility_models/shishkina2014.py``)
# ----------------------------------------------------------------------

SHISHKINA_CO2 = dict(A=1.150, B=6.71, C=-1.345)  # pi_star set (L62-65)


def _shishkina_cations(wt: dict[str, np.ndarray]):
    """Anhydrous-basis cation fractions (``shishkina2014.py:149-155``)."""
    from magmapandas_spark.models.common import cation_fractions_np

    anhyd = {s: v for s, v in wt.items() if s not in ("H2O", "CO2")}
    total = sum(v / W(s) for s, v in anhyd.items())
    mol = {s: (v / W(s)) / total for s, v in anhyd.items()}
    return cation_fractions_np(mol)


def shishkina_h2o_solubility_np(wt, P_bar, x_fluid=1.0):
    """eq. 9 (``shishkina2014.py:117-166``); fH2O in MPa."""
    cat = _shishkina_cations(wt)
    b = cat.get("Na", 0.0) + cat.get("K", 0.0)
    f = np.asarray(x_fluid, dtype=float) * np.asarray(P_bar, dtype=float) / 10.0
    a = 3.36e-7 * f**3 - 2.33e-4 * f**2 + 0.0711 * f - 1.1309
    c = -1.2e-5 * f**2 + 0.0196 * f + 1.1297
    return a * b + c


def shishkina_co2_solubility_np(wt, P_bar, x_fluid=0.0):
    """eq. 13 (``shishkina2014.py:221-261``)."""
    cat = _shishkina_cations(wt)
    z = 0.0
    g = lambda s: cat.get(s, z)
    pi_star = (
        g("Ca") + 0.8 * g("K") + 0.7 * g("Na") + 0.4 * g("Mg") + 0.4 * g("Fe")
    ) / (g("Si") + g("Al"))
    f = (1 - np.asarray(x_fluid, dtype=float)) * np.asarray(P_bar, dtype=float) / 10.0
    f_safe = np.where(f > 0, f, 1.0)
    p = SHISHKINA_CO2
    out = np.exp(p["A"] * np.log(f_safe) + p["B"] * pi_star + p["C"]) / 1e4
    return np.where(f > 0, out, 0.0)


def shishkina_h2o_saturation_np(wt, h2o_obs):
    """Invert eq. 9 for fH2O by bisection (the polynomial a(f)·b + c(f)
    is monotonic in f); pure fluid → P = fH2O
    (``shishkina2014.py:73-115``). Samples below the P=0 intercept give
    NaN, matching L98-101."""
    h2o_obs = np.asarray(h2o_obs, dtype=float)
    cat = _shishkina_cations(wt)
    b = cat.get("Na", 0.0) + cat.get("K", 0.0)
    b, h2o_obs = np.broadcast_arrays(b, h2o_obs)

    def f(P_bar):
        fm = P_bar / 10.0
        a = 3.36e-7 * fm**3 - 2.33e-4 * fm**2 + 0.0711 * fm - 1.1309
        c = -1.2e-5 * fm**2 + 0.0196 * fm + 1.1297
        return a * b + c - h2o_obs

    lo = np.full_like(h2o_obs, 1e-15)
    hi = np.full_like(h2o_obs, 1.5e4)
    out = eos.bisect_vectorized(f, lo, hi, iters=60)
    sol_at_0 = f(np.zeros_like(h2o_obs)) + h2o_obs  # a(0)b + c(0)
    out = np.where(h2o_obs < sol_at_0, np.nan, out)
    return np.where(h2o_obs > 0, out, 0.0)


def shishkina_co2_saturation_np(wt, co2_obs):
    """Closed-form inversion of eq. 13: fCO2 = exp((ln(CO2·1e4) − Bπ*
    − C)/A); pure fluid → P = 10·fCO2 bar."""
    co2_obs = np.asarray(co2_obs, dtype=float)
    cat = _shishkina_cations(wt)
    z = 0.0
    g = lambda s: cat.get(s, z)
    pi_star = (
        g("Ca") + 0.8 * g("K") + 0.7 * g("Na") + 0.4 * g("Mg") + 0.4 * g("Fe")
    ) / (g("Si") + g("Al"))
    p = SHISHKINA_CO2
    safe = np.where(co2_obs > 0, co2_obs, 1.0)
    f = np.exp((np.log(safe * 1e4) - p["B"] * pi_star - p["C"]) / p["A"])
    return np.where(co2_obs > 0, f * 10.0, 0.0)


def shishkina_mixed_saturation_np(wt, h2o_obs, co2_obs):
    """Mixed saturation: under ideal fugacity the two partial pressures
    decouple (fH2O from eq. 9, fCO2 closed-form from eq. 13), so
    P = 10·(fH2O + fCO2) with no joint iteration — algebraically the
    root of the reference's 2-D solve (``shishkina2014.py:300-350``)."""
    h2o_obs = np.asarray(h2o_obs, dtype=float)
    co2_obs = np.asarray(co2_obs, dtype=float)
    P_h2o = shishkina_h2o_saturation_np(wt, h2o_obs)  # = 10·fH2O
    P_co2 = shishkina_co2_saturation_np(wt, co2_obs)  # = 10·fCO2
    P = P_h2o + P_co2
    with np.errstate(invalid="ignore"):
        x = np.where(P > 0, P_h2o / P, 1.0)
    P = np.where(h2o_obs <= 0, P_co2, P)
    x = np.where(h2o_obs <= 0, 0.0, x)
    P = np.where(co2_obs <= 0, P_h2o, P)
    x = np.where(co2_obs <= 0, 1.0, x)
    return P, np.clip(x, 0.0, 1.0)


SATURATION_MODELS = {
    "iaconomarziano2012": {
        "h2o": lambda wt, w, c, T: h2o_saturation_np(wt, w, T),
        "co2": lambda wt, w, c, T: co2_saturation_np(wt, c, T),
        "mixed": lambda wt, w, c, T: mixed_saturation_np(wt, w, c, T),
    },
    "shishkina2014": {
        "h2o": lambda wt, w, c, T: shishkina_h2o_saturation_np(wt, w),
        "co2": lambda wt, w, c, T: shishkina_co2_saturation_np(wt, c),
        "mixed": lambda wt, w, c, T: shishkina_mixed_saturation_np(wt, w, c),
    },
}


def _register_allison() -> None:
    from magmapandas_spark.models import allison

    SATURATION_MODELS["allison2022"] = {
        "h2o": lambda wt, w, c, T: allison.allison_h2o_saturation_np(
            wt, w, T
        ),
        "co2": lambda wt, w, c, T: allison.allison_co2_saturation_np(
            wt, c, T
        ),
        "mixed": lambda wt, w, c, T: allison.allison_mixed_saturation_np(
            wt, w, c, T
        ),
    }


_register_allison()


def _im_mixed_solubility(wt, P, T, x, parameters="hydrous_webapp"):
    h2o = h2o_solubility_np(wt, P, T, x, parameters)
    wt2 = dict(wt)
    wt2["H2O"] = h2o
    return h2o, co2_solubility_np(wt2, P, T, x, parameters)


def _shishkina_mixed_solubility(wt, P, T, x):
    return (
        shishkina_h2o_solubility_np(wt, P, x),
        shishkina_co2_solubility_np(wt, P, x),
    )


def _allison_mixed_solubility(wt, P, T, x):
    from magmapandas_spark.models import allison

    return (
        allison.allison_h2o_solubility_np(P, T, x),
        allison.allison_co2_solubility_np(wt, P, T, x),
    )


# mixed-fluid solubility per model: fn(wt, P_bar, T_K, x_fluid) ->
# (H2O wt.%, CO2 wt.%) (``calculate_volatiles.py:38-53`` dispatch)
SOLUBILITY_MODELS = {
    "iaconomarziano2012": _im_mixed_solubility,
    "shishkina2014": _shishkina_mixed_solubility,
    "allison2022": _allison_mixed_solubility,
}


# ----------------------------------------------------------------------
# Spark surface
# ----------------------------------------------------------------------

def volatile_saturation_pressure(
    melt: GeoFrame,
    T_K,
    model: str = "iaconomarziano2012",
    species: str = "mixed",
    out_col: str = "P_bar_sat",
) -> DataFrame:
    """Engine equivalent of ``Melt.volatile_saturation_pressure``
    (``core/MagmaFrames/melt.py:318-414``) + model dispatch
    (``calculate_volatiles.py:8-35``): one Arrow-vectorized UDF replaces
    the per-row multiprocessing Pool; for ``mixed`` adds an ``Xfl``
    column. A row whose solve fails gives NaN (parity with L410-413),
    whatever the batching."""
    sat_fn = SATURATION_MODELS[model][species]
    species_cols = list(melt.species)
    # one task per core: the reference paid a process-Pool pickle per
    # ROW here; a Python-worker task costs a fixed ~0.2 s of CPU, so
    # the stage input is sized by solver_input, not the caller's layout
    df = solver_input(melt.df)
    inputs = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in species_cols}
    inputs["__T_K"] = as_col(T_K)

    def kernel(a):
        wt = {s: a[s] for s in species_cols}
        z = np.zeros_like(a["__T_K"])
        return sat_fn(wt, wt.get("H2O", z), wt.get("CO2", z), a["__T_K"])

    if species in ("h2o", "co2"):
        return df.withColumn(
            out_col, solver_column(kernel, inputs, nan_on_error=True)
        )
    out = df.withColumn(
        "__sat",
        solver_column(kernel, inputs, ("P_bar_sat", "Xfl"), nan_on_error=True),
    )
    return (
        out.withColumn(out_col, F.col("__sat.P_bar_sat"))
        .withColumn("Xfl", F.col("__sat.Xfl"))
        .drop("__sat")
    )


def volatile_solubility(
    melt: GeoFrame,
    P_bar,
    T_K,
    x_fluid=1.0,
    parameters: str = "hydrous_webapp",
) -> DataFrame:
    """Dissolved H2O/CO2 at given P, T, x_fluid
    (``calculate_volatiles.py:38-53``)."""
    species_cols = list(melt.species)
    inputs = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in species_cols}
    inputs |= {"__T_K": as_col(T_K), "__P_bar": as_col(P_bar),
               "__x_fluid": as_col(x_fluid)}
    col = solver_column(
        lambda a: _im_mixed_solubility(
            {s: a[s] for s in species_cols}, a["__P_bar"], a["__T_K"],
            a["__x_fluid"], parameters),
        inputs,
        ("H2O_sol", "CO2_sol"),
    )
    out = solver_input(melt.df).withColumn("__sol", col)
    return (
        out.withColumn("H2O_sol", F.col("__sol.H2O_sol"))
        .withColumn("CO2_sol", F.col("__sol.CO2_sol"))
        .drop("__sol")
    )


def co2_h2o_isobars(
    melt: GeoFrame,
    T_K: float,
    isobars=None,
    isopleths=None,
    n_points: int = 10,
    model: str = "iaconomarziano2012",
) -> DataFrame:
    """Isobar/isopleth solubility grids (``volatile_solubility/
    isobars.py:13-141``).

    The reference builds ``itertools.product(composition × P × x_fluid)``
    and fans rows over a process pool — which is literally a Spark
    ``crossJoin`` of two grid DataFrames followed by one vectorized
    solubility UDF stage (SURVEY §2.3). Returns the long-form grid
    ``(P_bar, x_fluid, kind, H2O_sol, CO2_sol)`` with ``kind`` ∈
    {isobar, isopleth}; smoothing/plotting interpolation stays
    driver-side on the collected (tiny) result, as in the reference.
    """
    import itertools

    spark = melt.df.sparkSession
    if isobars is None:
        isobars = list(np.arange(1e3, 7e3, 1e3))
    if isopleths is None:
        isopleths = [round(v, 6) for v in np.arange(0.0, 1.1, 0.1)]

    xfl_steps = [round(v, 6) for v in np.arange(0.0, 1.0 + 1.0 / n_points,
                                                1.0 / n_points)]
    p_steps = [
        round(max(isobars) * i / n_points, 6) for i in range(n_points + 1)
    ]

    grid_rows = [
        (float(P), float(x), "isobar")
        for P, x in itertools.product(isobars, xfl_steps)
    ] + [
        (float(P), float(x), "isopleth")
        for x, P in itertools.product(isopleths, p_steps)
    ]
    # internal names avoid collisions with melt columns (P_bar is a
    # common sample column)
    grid = spark.createDataFrame(
        pd.DataFrame(grid_rows, columns=["__iso_P", "__iso_x", "__iso_kind"])
    )

    sol_fn = SOLUBILITY_MODELS[model]
    species_cols = list(melt.species)
    # sized before the crossJoin: the broadcast nested-loop join keeps
    # the melt's partitioning, and probing after it would run the
    # broadcast job at construction
    replicated = solver_input(melt.df).crossJoin(F.broadcast(grid))

    inputs = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in species_cols}
    inputs |= {"__P": F.col("__iso_P").cast("double"),
               "__x": F.col("__iso_x").cast("double")}
    T = float(T_K)
    col = solver_column(
        lambda a: sol_fn({s: a[s] for s in species_cols}, a["__P"],
                         np.full_like(a["__P"], T), a["__x"]),
        inputs,
        ("H2O_sol", "CO2_sol"),
        nan_on_error=True,
    )
    out = replicated.withColumn("__sol", col)
    keep = [
        c
        for c in melt.df.columns
        if c not in species_cols and c not in ("P_bar", "x_fluid", "kind")
    ]
    return (
        out.select(
            *keep,
            F.col("__iso_P").alias("P_bar"),
            F.col("__iso_x").alias("x_fluid"),
            F.col("__iso_kind").alias("kind"),
            F.col("__sol.H2O_sol").alias("H2O_sol"),
            F.col("__sol.CO2_sol").alias("CO2_sol"),
        )
    )


def shishkina_co2_saturation_expr(melt: GeoFrame) -> Column:
    """Expression-tier twin of :func:`shishkina_co2_saturation_np`
    (closed-form — no UDF, no Arrow exchange, whole-stage codegen;
    the UDF path stays for the dispatcher but this is what a hot
    pipeline should call at scale)."""
    from magmapandas_spark.chem.elements import cation_amount, cation_name

    # Cation fractions straight from wt.%: the intermediate mole-
    # fraction normalisation cancels algebraically (cat_i = w_i / Σw
    # whether or not the mole terms were pre-normalised), and skipping
    # it keeps the expression tree one division level deep instead of
    # inlining the 10-term mole total inside every fraction — the
    # nested form blew past JIT method limits and ran interpreted.
    # This is also exactly the (single-level) shape the DuckDB oracle
    # computes.
    comp = {
        s: F.coalesce(F.col(s), F.lit(0.0))
        for s in melt.species
        if s not in ("H2O", "CO2")
    }
    # accumulate, don't overwrite: two oxides of the same cation
    # (e.g. FeO + Fe2O3) must SUM their cation contributions, matching
    # the reference's moles-per-cation accumulation semantics
    w_terms: dict[str, Column] = {}
    for s, c in comp.items():
        term = c / F.lit(W(s)) * F.lit(float(cation_amount(s)))
        n = cation_name(s)
        w_terms[n] = term if n not in w_terms else w_terms[n] + term
    total = None
    for c in w_terms.values():
        total = c if total is None else total + c
    cat = {n: t / total for n, t in w_terms.items()}
    z = F.lit(0.0)
    g = lambda n: cat.get(n, z)
    pi_star = (
        g("Ca")
        + F.lit(0.8) * g("K")
        + F.lit(0.7) * g("Na")
        + F.lit(0.4) * g("Mg")
        + F.lit(0.4) * g("Fe")
    ) / (g("Si") + g("Al"))
    p = SHISHKINA_CO2
    co2 = F.coalesce(F.col("CO2"), F.lit(0.0))
    f = F.exp(
        (F.log(co2 * F.lit(1e4)) - F.lit(p["B"]) * pi_star - F.lit(p["C"]))
        / F.lit(p["A"])
    )
    return F.when(co2 > 0, f * F.lit(10.0)).otherwise(F.lit(0.0))


def register_solubility_model(
    name: str, saturation: dict, solubility=None
) -> None:
    """Extension hook for volatile-solubility models
    (``volatile_solubility/solubility_baseclass.py:4``): ``saturation``
    maps species ('h2o'|'co2'|'mixed') to numpy kernels
    ``f(wt, h2o_obs, co2_obs, T_K)``; optional ``solubility`` is
    ``f(wt, P, T, x) -> (h2o, co2)``."""
    SATURATION_MODELS[name] = dict(saturation)
    if solubility is not None:
        SOLUBILITY_MODELS[name] = solubility
