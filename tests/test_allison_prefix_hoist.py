"""Bitwise-identity pin for the r14 Allison/Holloway-Blank prefix
hoist (models/allison.py).

The r14 optimization hoists the T-only terms of the MRK fugacity
(`_rk_prefix`), the T-only Saxena coefficients (`_saxena_prefix`),
the ENTIRE constant 4-kbar MRK branch for CO2, and the wt-only
carbonate terms (cations → lnK0/deltaV/expK0) out of the saturation
bisection loops. Every split is at an association boundary of the
original left-to-right expression, so the final values must be
BIT-identical — pinned here against a verbatim replica of the r13
code on random basaltic batches plus every degenerate row class the
engine produces (zero-H2O / zero-CO2 / both, sub-bracket and
above-4-kbar pressures, constant and varying T).
"""

from __future__ import annotations

import numpy as np
import pytest

from magmapandas_spark.models import allison as al
from magmapandas_spark.models.allison import (
    _allison_cations,
    _deltaV,
    _lnK0,
    _redkw,
    _FW,
    _P_BRACKET,
    R,
)

# ---------------------------------------------------------------------
# Verbatim replica of the r13 (pre-hoist) code paths, with the
# module's own bisection loop that eos.bisect_vectorized replaced
# ---------------------------------------------------------------------


def _bisect(f, lo, hi, iters: int = 48):
    f_lo = f(lo)
    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        same = np.sign(f(mid)) == np.sign(f_lo)
        lo = np.where(same, mid, lo)
        hi = np.where(same, hi, mid)
    return 0.5 * (lo + hi)


def _rkcalc_old(T_K, P_bar, species):
    Rg = 82.05736
    PBLN = np.log(P_bar)
    T_C = T_K - 273.15
    RXT = Rg * T_K
    RT = Rg * T_K**1.5 * 1e-6
    P_atmos = P_bar / 1.013

    if species == "CO2":
        A_M = 73.03 - 0.0714 * T_C + 2.157e-05 * T_C**2
        BSUM = 29.7
    else:  # H2O
        A_M = 115.98 - 0.0016295 * T_K - 1.4984e-05 * T_K**2
        BSUM = 14.5
    ASUM = A_M / (BSUM * RT)
    BP = P_atmos * BSUM / RXT
    return _redkw(BP, ASUM) + PBLN


def _saxena_old(T_K, P_bar):
    PO = 4000.0
    TR = T_K / 304.2
    PC = 73.9
    A = 2.0614 - 2.2351 / TR**2 - 0.39411 * np.log(TR)
    B = 0.055125 / TR + 0.039344 / TR**2
    C = -1.8935e-06 / TR - 1.1092e-05 / TR**2 - 2.1892e-05 / TR**3
    D = 5.0527e-11 / TR - 6.3033e-21 / TR**3
    return (
        A * np.log(P_bar / PO)
        + (B / PC) * (P_bar - PO)
        + (C / (2 * PC**2)) * (P_bar**2 - PO**2)
        + (D / (3 * PC**3)) * (P_bar**3 - PO**3)
    )


def hb_fugacity_old(T_K, P_bar, species):
    T = np.atleast_1d(np.asarray(T_K, dtype=float))
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    T, P = np.broadcast_arrays(T, P)
    P_safe = np.maximum(P, 1e-50)
    if species == "CO2":
        high = P_safe > 4000.0
        ln_f = np.where(
            high,
            _rkcalc_old(T, np.full_like(P_safe, 4000.0), "CO2")
            + _saxena_old(T, np.where(high, P_safe, 4000.0)),
            _rkcalc_old(T, np.where(high, 4000.0, P_safe), "CO2"),
        )
    else:
        ln_f = _rkcalc_old(T, P_safe, "H2O")
    return np.exp(ln_f)


def co2_solubility_old(wt, P_bar, T_K, x_fluid=0.0):
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), P.shape)
    x = np.broadcast_to(np.asarray(x_fluid, dtype=float), P.shape)
    Ra = R * 10.0
    P0 = 1e3

    fCO2 = hb_fugacity_old(T, P, "CO2") * (1.0 - x)
    mixed_fluid = x > 0
    if np.any(mixed_fluid):
        f_target = np.where(mixed_fluid, fCO2, 1.0)

        def froot(Pc):
            return f_target - hb_fugacity_old(T, Pc, "CO2")

        lo = np.full_like(P, _P_BRACKET[0])
        hi = np.full_like(P, _P_BRACKET[1])
        P_CO2 = np.where(mixed_fluid, _bisect(froot, lo, hi), P)
    else:
        P_CO2 = P

    cat = _allison_cations(wt)
    K = np.exp(_lnK0(cat)) * np.exp(-_deltaV(cat) * (P_CO2 - P0) / (Ra * T))
    Kf = K * fCO2
    XCO3 = Kf / (1.0 - Kf)
    CO2 = 44.01 * XCO3 / (44.01 * XCO3 + (1.0 - XCO3) * _FW) * 100.0
    return np.where((P <= 0) | (x >= 1), 0.0, CO2)


def h2o_saturation_old(wt, h2o_obs, T_K, x_fluid=1.0):
    h2o = np.atleast_1d(np.asarray(h2o_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), h2o.shape)
    fH2O_pure = 104.98 * h2o**1.83 / x_fluid

    def f(P):
        return fH2O_pure - hb_fugacity_old(T, P, "H2O")

    lo = np.full_like(h2o, _P_BRACKET[0])
    hi = np.full_like(h2o, _P_BRACKET[1])
    out = _bisect(f, lo, hi)
    return np.where(h2o <= 0, 0.0, out)


def co2_saturation_old(wt, co2_obs, T_K, x_fluid=0.0):
    co2 = np.atleast_1d(np.asarray(co2_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), co2.shape)
    co2_safe = np.where(co2 > 0, co2, 1e-6)

    cat = _allison_cations(wt)
    deltaV = _deltaV(cat)
    lnK0 = _lnK0(cat)
    XCO3 = co2_safe * (1.0 / 44.01) / ((100.0 / _FW) - (co2_safe / _FW))
    Kf = XCO3 / (1.0 + XCO3)
    P0, Ra = 1e3, R * 10.0

    def f(P):
        K_fug = Kf / hb_fugacity_old(T, P, "CO2")
        K_sol = np.exp(lnK0) * np.exp(-deltaV * (P - P0) / (Ra * T))
        return K_fug - K_sol

    lo = np.full_like(co2_safe, _P_BRACKET[0])
    hi = np.full_like(co2_safe, _P_BRACKET[1])
    P_CO2 = _bisect(f, lo, hi)

    if np.any(np.asarray(x_fluid) > 0):
        fCO2 = hb_fugacity_old(T, P_CO2, "CO2")
        fCO2_pure = fCO2 / (1.0 - x_fluid)

        def f2(P):
            return fCO2_pure - hb_fugacity_old(T, P, "CO2")

        P_sat = _bisect(f2, lo, hi)
    else:
        P_sat = P_CO2
    return np.where(co2 <= 0, 0.0, P_sat)


def mixed_saturation_old(wt, h2o_obs, co2_obs, T_K):
    h2o = np.atleast_1d(np.asarray(h2o_obs, dtype=float))
    co2 = np.atleast_1d(np.asarray(co2_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), h2o.shape)
    h2o, co2, T = np.broadcast_arrays(h2o, co2, T)

    P_h2o_sat = h2o_saturation_old(wt, h2o, T, x_fluid=1.0)
    P_co2_sat = co2_saturation_old(wt, co2, T, x_fluid=0.0)

    h_safe = np.where(h2o > 0, h2o, 1e-6)
    c_safe = np.where(co2 > 0, co2, 1e-6)
    fH2O_target = 104.98 * h_safe**1.83

    def x_of_P(P):
        return np.clip(fH2O_target / hb_fugacity_old(T, P, "H2O"), 0.0, 1.0)

    def residual(P):
        return co2_solubility_old(wt, P, T, x_of_P(P)) - c_safe

    lo = np.full_like(h_safe, 10.0)
    hi = np.full_like(h_safe, _P_BRACKET[1])
    P = _bisect(residual, lo, hi)
    x = x_of_P(P)

    P = np.where(x <= 0.0, P_co2_sat, np.where(x >= 1.0, P_h2o_sat, P))
    x = np.clip(x, 0.0, 1.0)
    P = np.where(h2o <= 0, P_co2_sat, P)
    x = np.where(h2o <= 0, 0.0, x)
    P = np.where(co2 <= 0, P_h2o_sat, P)
    x = np.where(co2 <= 0, 1.0, x)
    return P, x


# ---------------------------------------------------------------------
# Fixtures: random basaltic batches + every degenerate row class
# ---------------------------------------------------------------------


def _batch(n=800, seed=7, vary_T=False):
    rng = np.random.default_rng(seed)
    wt = {
        "SiO2": rng.uniform(45, 55, n), "TiO2": rng.uniform(0.5, 3, n),
        "Al2O3": rng.uniform(12, 18, n), "FeO": rng.uniform(5, 12, n),
        "MgO": rng.uniform(4, 10, n), "CaO": rng.uniform(8, 13, n),
        "Na2O": rng.uniform(2, 4, n), "K2O": rng.uniform(0.3, 2, n),
    }
    h2o = rng.uniform(0.0, 4.0, n)
    co2 = rng.uniform(0.0, 0.6, n)
    # degenerate classes: zero-H2O, zero-CO2, both zero
    h2o[:20] = 0.0
    co2[20:40] = 0.0
    h2o[40:50] = 0.0
    co2[40:50] = 0.0
    T = (
        rng.uniform(1300.0, 1600.0, n)
        if vary_T
        else np.full(n, 1473.15)  # the gate's fixed T
    )
    return wt, h2o, co2, T, rng


@pytest.mark.parametrize("vary_T", [False, True])
def test_fugacity_bitwise_identical(vary_T):
    wt, h2o, co2, T, rng = _batch(vary_T=vary_T)
    # pressures spanning sub-bracket, MRK, and the >4 kbar Saxena branch
    P = rng.uniform(1e-9, 14900.0, T.shape[0])
    P[:10] = 0.0  # P_safe floor path
    for sp in ("CO2", "H2O"):
        assert np.array_equal(
            hb_fugacity_old(T, P, sp), al.hb_fugacity_np(T, P, sp)
        )


@pytest.mark.parametrize("vary_T", [False, True])
def test_solubility_and_saturations_bitwise_identical(vary_T):
    wt, h2o, co2, T, rng = _batch(vary_T=vary_T)
    P = rng.uniform(1.0, 14000.0, T.shape[0])
    for xf in (0.0, 0.4):
        assert np.array_equal(
            co2_solubility_old(wt, P, T, xf),
            al.allison_co2_solubility_np(wt, P, T, xf),
        )
    assert np.array_equal(
        h2o_saturation_old(wt, h2o, T),
        al.allison_h2o_saturation_np(wt, h2o, T),
    )
    for xf in (0.0, 0.3):
        assert np.array_equal(
            co2_saturation_old(wt, co2, T, xf),
            al.allison_co2_saturation_np(wt, co2, T, xf),
        )


@pytest.mark.parametrize("vary_T", [False, True])
def test_mixed_saturation_bitwise_identical(vary_T):
    wt, h2o, co2, T, _ = _batch(vary_T=vary_T)
    P_old, x_old = mixed_saturation_old(wt, h2o, co2, T)
    P_new, x_new = al.allison_mixed_saturation_np(wt, h2o, co2, T)
    assert np.array_equal(P_old, P_new)
    assert np.array_equal(x_old, x_new)
