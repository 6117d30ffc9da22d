"""Allison et al. (2022) MafiCH volatile solubility + Holloway & Blank
(1994) CO2/H2O fugacity.

Spark-native re-expression of the reference's
``volatile_solubility_models/allison2022.py`` and ``EOSs/CO2_H2O.py``.
The reference evaluates both per sample (scalar VB-translated branches +
``scipy.root_scalar``/2-D ``root`` per row, fanned out over a process
pool). Here every kernel is vectorized numpy over whole Arrow batches:

- MRK/Saxena fugacity (``CO2_H2O.py:16-184``): the scalar if/else
  ladders become masked ``np.where`` branches;
- saturation root-finding (``allison2022.py:164-168, 251-255,
  264-268``): sign-change bisection over the [1e-50, 1.5e4] bar bracket
  of the reference, all rows at once;
- mixed-fluid saturation (``allison2022.py:450-454``): the 2-D hybr
  solve collapses to a 1-D bisection — at the fixed point x_fluid is
  *closed-form* in P from the H2O equation (eq. 8:
  x = 104.98·H2O^1.83 / fH2O_pure(P)), leaving one residual in CO2.

The ``.round(3)`` on cation fractions is kept deliberately
(``allison2022.py:399-401``: "Results will be different if you don't").
"""

from __future__ import annotations

import numpy as np

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.models import eos
from magmapandas_spark.models.common import cation_fractions_np

R = 8.31446261815324
_ALLISON_OXIDES = ["SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O"]
_FW = 36.594  # alkali-basalt formula weight per 1 oxygen (allison2022.py:245)
_P_BRACKET = (1e-10, 1.5e4)  # reference bracket [1e-50, 1.5e4] bar
# 48 halvings of the 1.5e4 bar bracket ≈ 5e-11 bar — beyond any
# physical meaning, at 40% the cost of scipy-default-equivalent 80
_ITERS = 48


# ----------------------------------------------------------------------
# Holloway & Blank (1994) fugacity — vectorized (``EOSs/CO2_H2O.py``)
# ----------------------------------------------------------------------

def _redkw(BP: np.ndarray, A2B: np.ndarray) -> np.ndarray:
    """Redlich-Kwong compressibility/fugacity coefficient (Edmister 1968;
    ``CO2_H2O.py:76-148``), scalar branches → masked numpy."""
    TH = 1.0 / 3.0
    A2B = np.where(A2B < 1e-10, 0.001, A2B)
    RR = -A2B * BP * BP
    QQ = BP * (A2B - BP - 1.0)
    XN = QQ * TH + RR - 0.074074
    XM = QQ - TH
    XNN = XN * XN / 4.0
    XMM = XM**3 / 27.0
    ARG = XNN + XMM

    pos = ARG > 0
    neg = ARG < 0

    # ARG > 0: one real root via cube roots (np.cbrt = the reference's
    # sign-juggled ** (1/3))
    X = np.sqrt(np.where(pos, ARG, 1.0))
    XN2 = -XN / 2.0
    Z_pos = np.cbrt(XN2 + X) + np.cbrt(XN2 - X) + TH

    # ARG < 0: three real roots, pick the largest (``CO2_H2O.py:119-135``)
    XMM_safe = np.where(neg, XMM, -1.0)
    XNN_safe = np.where(neg, XNN, 0.5)
    with np.errstate(invalid="ignore", divide="ignore"):
        COSPHI = np.sqrt(np.clip(-XNN_safe / XMM_safe, 0.0, None))
        COSPHI = np.where(XN > 0, -COSPHI, COSPHI)
        TANPHI = np.sqrt(np.clip(1.0 - COSPHI**2, 0.0, None)) / COSPHI
        PHI = np.arctan(TANPHI) * TH
    FAC = 2.0 * np.sqrt(np.where(neg, -XM * TH, 0.0))
    RH = np.maximum(
        np.cos(PHI), np.maximum(np.cos(PHI + 2.0944), np.cos(PHI + 4.18879))
    )
    Z_neg = RH * FAC + TH

    Z = np.where(pos, Z_pos, np.where(neg, Z_neg, 1.0))
    ZBP = np.maximum(Z - BP, 1e-6)
    BPZ = 1.0 + BP / Z
    with np.errstate(invalid="ignore", divide="ignore"):
        FP = Z - 1.0 - np.log(ZBP) - A2B * np.log(BPZ)
    FP = np.where((FP < -37.0) | (FP > 37.0), 1e-6, FP)
    return np.where(pos | neg, FP, 1.0)


def _rk_prefix(T_K: np.ndarray, species: str):
    """T-only terms of :func:`_rkcalc` — (ASUM, RXT, BSUM).

    During a saturation bisection T is fixed while P moves, so these
    are computed once per batch instead of once per iteration (the
    48-eval inner fugacity inversion made them the hot path). The
    split is at association boundaries of the original expressions
    (ASUM and RXT are complete subexpressions), so every IEEE op and
    its order is preserved — the tail result is bit-identical."""
    Rg = 82.05736
    T_C = T_K - 273.15
    RXT = Rg * T_K
    RT = Rg * T_K**1.5 * 1e-6
    if species == "CO2":
        A_M = 73.03 - 0.0714 * T_C + 2.157e-05 * T_C**2
        BSUM = 29.7
    else:  # H2O
        A_M = 115.98 - 0.0016295 * T_K - 1.4984e-05 * T_K**2
        BSUM = 14.5
    ASUM = A_M / (BSUM * RT)
    return ASUM, RXT, BSUM


def _rkcalc_from_prefix(
    P_bar: np.ndarray, ASUM: np.ndarray, RXT: np.ndarray, BSUM: float
) -> np.ndarray:
    """P-dependent tail of :func:`_rkcalc` (see :func:`_rk_prefix`)."""
    PBLN = np.log(P_bar)
    P_atmos = P_bar / 1.013
    BP = P_atmos * BSUM / RXT
    return _redkw(BP, ASUM) + PBLN


def _rkcalc(T_K: np.ndarray, P_bar: np.ndarray, species: str) -> np.ndarray:
    """ln fugacity from the MRK EOS (``CO2_H2O.py:40-73``)."""
    ASUM, RXT, BSUM = _rk_prefix(T_K, species)
    return _rkcalc_from_prefix(P_bar, ASUM, RXT, BSUM)


def _saxena_prefix(T_K: np.ndarray):
    """T-only coefficients of :func:`_saxena` — (A, B, C, D); same
    association-boundary split discipline as :func:`_rk_prefix`."""
    TR = T_K / 304.2
    A = 2.0614 - 2.2351 / TR**2 - 0.39411 * np.log(TR)
    B = 0.055125 / TR + 0.039344 / TR**2
    C = -1.8935e-06 / TR - 1.1092e-05 / TR**2 - 2.1892e-05 / TR**3
    D = 5.0527e-11 / TR - 6.3033e-21 / TR**3
    return A, B, C, D


def _saxena_from_prefix(P_bar, A, B, C, D) -> np.ndarray:
    """P-dependent tail of :func:`_saxena`."""
    PO = 4000.0
    PC = 73.9
    return (
        A * np.log(P_bar / PO)
        + (B / PC) * (P_bar - PO)
        + (C / (2 * PC**2)) * (P_bar**2 - PO**2)
        + (D / (3 * PC**3)) * (P_bar**3 - PO**3)
    )


def _saxena(T_K: np.ndarray, P_bar: np.ndarray) -> np.ndarray:
    """Saxena & Fei (1987) high-P CO2 correction: ln F(P)/F(4 kbar)
    (``CO2_H2O.py:151-184``)."""
    return _saxena_from_prefix(P_bar, *_saxena_prefix(T_K))


def _hb_fugacity_prefix(T_K: np.ndarray, species: str):
    """Fugacity evaluator with the T-only work hoisted: returns
    ``fug(P_bar)`` computing :func:`hb_fugacity_np` bit-identically
    for P of T's shape. Beyond the :func:`_rk_prefix` terms this
    hoists the ENTIRE constant 4-kbar MRK branch for CO2 —
    ``_rkcalc(T, 4000, "CO2")`` does not depend on the iterate at
    all, yet the unhoisted form recomputed it (a full `_redkw` pass)
    in every one of the ~48×48 mixed-solver fugacity evals."""
    T = np.atleast_1d(np.asarray(T_K, dtype=float))
    ASUM, RXT, BSUM = _rk_prefix(T, species)
    if species == "CO2":
        A, B, C, D = _saxena_prefix(T)
        ln_4k = _rkcalc_from_prefix(
            np.full_like(T, 4000.0), ASUM, RXT, BSUM
        )

        def fug(P_bar: np.ndarray) -> np.ndarray:
            P = np.atleast_1d(np.asarray(P_bar, dtype=float))
            P_safe = np.maximum(P, 1e-50)
            high = P_safe > 4000.0
            ln_f = np.where(
                high,
                ln_4k
                + _saxena_from_prefix(
                    np.where(high, P_safe, 4000.0), A, B, C, D
                ),
                _rkcalc_from_prefix(
                    np.where(high, 4000.0, P_safe), ASUM, RXT, BSUM
                ),
            )
            return np.exp(ln_f)

    else:

        def fug(P_bar: np.ndarray) -> np.ndarray:
            P = np.atleast_1d(np.asarray(P_bar, dtype=float))
            P_safe = np.maximum(P, 1e-50)
            return np.exp(_rkcalc_from_prefix(P_safe, ASUM, RXT, BSUM))

    return fug


def hb_fugacity_np(T_K, P_bar, species: str) -> np.ndarray:
    """Pure-fluid fugacity (bar): MRK below 4 kbar, MRK(4 kbar)+Saxena
    above for CO2 (``CO2_H2O.py:19-37``)."""
    T = np.atleast_1d(np.asarray(T_K, dtype=float))
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    T, P = np.broadcast_arrays(T, P)
    return _hb_fugacity_prefix(T, species)(P)


# ----------------------------------------------------------------------
# Allison 2022 solubility (``allison2022.py``)
# ----------------------------------------------------------------------

def _allison_cations(wt: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Cation fractions on the 8-oxide basis, all Fe as Fe2+, rounded to
    3 decimals per the reference quirk (``allison2022.py:379-403``)."""
    comp = {}
    for ox in _ALLISON_OXIDES:
        v = wt.get(ox)
        if v is None:
            continue
        comp[ox] = np.asarray(v, dtype=float)
    if "Fe2O3" in wt:
        ratio = chem.calculate_weight("Fe2O3") / chem.calculate_weight("FeO")
        comp["FeO"] = comp.get("FeO", 0.0) + np.asarray(
            wt["Fe2O3"], dtype=float
        ) / ratio
    total_mol = sum(v / chem.calculate_weight(s) for s, v in comp.items())
    mol = {s: (v / chem.calculate_weight(s)) / total_mol for s, v in comp.items()}
    cat = cation_fractions_np(mol)
    return {n: np.round(v, 3) for n, v in cat.items()}


def _deltaV(cat) -> np.ndarray:
    """Compositional ΔV term (``allison2022.py:347-361``)."""
    NaK = cat["Na"] / (cat["Na"] + cat["K"])
    return (
        -3350.65
        + 2625.385 * cat["Ti"]
        + 3105.426 * cat["Al"]
        + 47.0037 * NaK
        + 3375.552 * (cat["Si"] + cat["Na"])
        + 3795.115 * cat["K"]
        + 3628.018 * cat["Fe"]
        + 3323.32 * (cat["Mg"] + cat["Ca"])
    )


def _lnK0(cat) -> np.ndarray:
    """Compositional lnK0 term (``allison2022.py:364-377``)."""
    NaK = cat["Na"] / (cat["Na"] + cat["K"])
    return (
        -128.365
        + 122.644 * (cat["Fe"] + cat["Na"] + cat["Ca"])
        + 92.263 * (cat["Ti"] + cat["Al"])
        + 114.098 * cat["Si"]
        + 111.549 * cat["Mg"]
        + 138.855 * cat["K"]
        + 2.239 * NaK
    )


def allison_h2o_solubility_np(P_bar, T_K, x_fluid=1.0) -> np.ndarray:
    """Dissolved H2O wt.%, eq. 8 (``allison2022.py:173-202``)."""
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    x = np.broadcast_to(np.asarray(x_fluid, dtype=float), P.shape)
    fH2O = hb_fugacity_np(T_K, P, "H2O") * x
    out = (fH2O / 104.98) ** (1.0 / 1.83)
    return np.where((P <= 0) | (x <= 0), 0.0, out)


def allison_co2_solubility_np(
    wt, P_bar, T_K, x_fluid=0.0, _fug_co2=None, _expK0=None, _dV=None
) -> np.ndarray:
    """Dissolved CO2 wt.%, eq. 5 (``allison2022.py:272-335``).

    ``_fug_co2`` / ``_expK0`` / ``_dV`` are the P-independent hoists a
    solver loop computes once per batch (the mixed-saturation outer
    bisection calls this 48×; composition and T never change inside
    it). When omitted they are built here — same values either way."""
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), P.shape)
    x = np.broadcast_to(np.asarray(x_fluid, dtype=float), P.shape)
    Ra = R * 10.0
    P0 = 1e3

    fug_co2 = _fug_co2 if _fug_co2 is not None else _hb_fugacity_prefix(
        T, "CO2"
    )
    fCO2 = fug_co2(P) * (1.0 - x)
    # partial pressure of CO2 when the fluid is mixed (L319-324)
    mixed_fluid = x > 0
    if np.any(mixed_fluid):
        f_target = np.where(mixed_fluid, fCO2, 1.0)

        def froot(Pc):
            return f_target - fug_co2(Pc)

        lo = np.full_like(P, _P_BRACKET[0])
        hi = np.full_like(P, _P_BRACKET[1])
        P_CO2 = np.where(
            mixed_fluid, eos.bisect_vectorized(froot, lo, hi, iters=_ITERS), P
        )
    else:
        P_CO2 = P

    if _expK0 is None:
        cat = _allison_cations(wt)
        expK0 = np.exp(_lnK0(cat))
        dV = _deltaV(cat)
    else:
        expK0, dV = _expK0, _dV
    K = expK0 * np.exp(-dV * (P_CO2 - P0) / (Ra * T))
    Kf = K * fCO2
    XCO3 = Kf / (1.0 - Kf)
    CO2 = 44.01 * XCO3 / (44.01 * XCO3 + (1.0 - XCO3) * _FW) * 100.0
    return np.where((P <= 0) | (x >= 1), 0.0, CO2)


def allison_h2o_saturation_np(wt, h2o_obs, T_K, x_fluid=1.0) -> np.ndarray:
    """H2O saturation pressure, eq. 8 inverted (``allison2022.py:133-170``)."""
    h2o = np.atleast_1d(np.asarray(h2o_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), h2o.shape)
    fH2O_pure = 104.98 * h2o**1.83 / x_fluid
    fug_h2o = _hb_fugacity_prefix(T, "H2O")

    def f(P):
        return fH2O_pure - fug_h2o(P)

    lo = np.full_like(h2o, _P_BRACKET[0])
    hi = np.full_like(h2o, _P_BRACKET[1])
    out = eos.bisect_vectorized(f, lo, hi, iters=_ITERS)
    return np.where(h2o <= 0, 0.0, out)


def allison_co2_saturation_np(wt, co2_obs, T_K, x_fluid=0.0) -> np.ndarray:
    """CO2 saturation pressure, eq. 5 inverted (``allison2022.py:210-270``)."""
    co2 = np.atleast_1d(np.asarray(co2_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), co2.shape)
    co2_safe = np.where(co2 > 0, co2, 1e-6)

    cat = _allison_cations(wt)
    deltaV = _deltaV(cat)
    lnK0 = _lnK0(cat)
    XCO3 = co2_safe * (1.0 / 44.01) / ((100.0 / _FW) - (co2_safe / _FW))
    Kf = XCO3 / (1.0 + XCO3)
    P0, Ra = 1e3, R * 10.0
    fug_co2 = _hb_fugacity_prefix(T, "CO2")
    expK0 = np.exp(lnK0)

    def f(P):
        K_fug = Kf / fug_co2(P)
        K_sol = expK0 * np.exp(-deltaV * (P - P0) / (Ra * T))
        return K_fug - K_sol

    lo = np.full_like(co2_safe, _P_BRACKET[0])
    hi = np.full_like(co2_safe, _P_BRACKET[1])
    P_CO2 = eos.bisect_vectorized(f, lo, hi, iters=_ITERS)

    if np.any(np.asarray(x_fluid) > 0):
        fCO2 = fug_co2(P_CO2)
        fCO2_pure = fCO2 / (1.0 - x_fluid)

        def f2(P):
            return fCO2_pure - fug_co2(P)

        P_sat = eos.bisect_vectorized(f2, lo, hi, iters=_ITERS)
    else:
        P_sat = P_CO2
    return np.where(co2 <= 0, 0.0, P_sat)


def allison_mixed_saturation_np(wt, h2o_obs, co2_obs, T_K):
    """Mixed-fluid saturation → (P_bar, x_fluid)
    (``allison2022.py:409-464``). The reference's 2-D hybr root
    collapses to a 1-D bisection: at the solution
    x_fluid(P) = 104.98·H2O^1.83 / fH2O_pure(P) exactly (eq. 8), leaving
    a single CO2 residual in P. Degenerate fluids return the pure-species
    pressures; out-of-range x clips with the pure pressure substituted
    (L456-460)."""
    h2o = np.atleast_1d(np.asarray(h2o_obs, dtype=float))
    co2 = np.atleast_1d(np.asarray(co2_obs, dtype=float))
    T = np.broadcast_to(np.atleast_1d(np.asarray(T_K, dtype=float)), h2o.shape)
    h2o, co2, T = np.broadcast_arrays(h2o, co2, T)

    P_h2o_sat = allison_h2o_saturation_np(wt, h2o, T, x_fluid=1.0)
    P_co2_sat = allison_co2_saturation_np(wt, co2, T, x_fluid=0.0)

    h_safe = np.where(h2o > 0, h2o, 1e-6)
    c_safe = np.where(co2 > 0, co2, 1e-6)
    fH2O_target = 104.98 * h_safe**1.83

    # per-batch hoists: composition and T are fixed across the outer
    # bisection, so the fugacity T-prefixes (incl. the constant
    # 4-kbar MRK branch) and the wt-only carbonate terms are computed
    # once instead of once per residual eval (48×) — and the hoisted
    # fugacity evaluator also serves every inner-bisection eval
    # (~48×48 per batch). Values bit-identical (see _rk_prefix).
    fug_h2o = _hb_fugacity_prefix(T, "H2O")
    fug_co2 = _hb_fugacity_prefix(T, "CO2")
    cat = _allison_cations(wt)
    expK0 = np.exp(_lnK0(cat))
    dV = _deltaV(cat)

    def x_of_P(P):
        return np.clip(fH2O_target / fug_h2o(P), 0.0, 1.0)

    def residual(P):
        return allison_co2_solubility_np(
            wt, P, T, x_of_P(P),
            _fug_co2=fug_co2, _expK0=expK0, _dV=dV,
        ) - c_safe

    # CO2 solubility rises with P and falls with x_fluid; the combined
    # residual is monotonic across the bracket in practice — same
    # contract as the reference's solver, failure → clipped fallback.
    lo = np.full_like(h_safe, 10.0)
    hi = np.full_like(h_safe, _P_BRACKET[1])
    P = eos.bisect_vectorized(residual, lo, hi, iters=_ITERS)
    x = x_of_P(P)

    P = np.where(x <= 0.0, P_co2_sat, np.where(x >= 1.0, P_h2o_sat, P))
    x = np.clip(x, 0.0, 1.0)
    P = np.where(h2o <= 0, P_co2_sat, P)
    x = np.where(h2o <= 0, 0.0, x)
    P = np.where(co2 <= 0, P_h2o_sat, P)
    x = np.where(co2 <= 0, 1.0, x)
    return P, x
