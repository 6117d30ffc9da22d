"""Equations of state — vectorized numpy kernels (no scipy).

Re-expression of the reference's ``src/MagmaPandas/EOSs/`` package
(``tait.py:6-59``, ``tools.py:7-301``, ``birch_murnaghan.py:6-42``,
``parameters.py:1-109``) built for Spark's execution model: every kernel
is array-in/array-out so it vectorizes over a whole Arrow batch inside a
pandas UDF, and root-finding uses a *vectorized bisection* (all rows
bisect simultaneously — 80 iterations of whole-array arithmetic) instead
of the reference's per-row ``scipy.fsolve`` loops
(``fO2/QFM.py:33-99``, ``Fe_redox/Fe3Fe2_models.py:624-671``).

Everything here is also used driver-side to precompute broadcastable
(T,P) lookup grids — fO2 buffers and dV/dP integrals are
sample-independent, so at 100 TB scale the preferred plan is
grid-precompute + broadcast join instead of per-row solves (SURVEY §4.2).
"""

from __future__ import annotations

import numpy as np

R = 8.314462618  # J/(mol K), CODATA
AVOGADRO = 6.02214076e23

# Holland & Powell (2011) dataset values (``EOSs/parameters.py:19-109``)
EOS_PARAMS: dict[str, dict[str, float]] = {
    "fayalite": dict(h=-1477.510, s=151.0, v0=4.631, n=7, a0=2.82e-5,
                     K0=1256, dKdP=4.68, dKdP2=-3.7e-3, cp_a=2.011e-1,
                     cp_b=1.733e-5, cp_c=-1960.6, cp_d=-9.009e-1),
    "ringwoodite": dict(h=-1477.510, s=140.0, v0=4.203, n=7, a0=2.22e-5,
                        K0=1977, dKdP=4.92, dKdP2=-2.5e-3, cp_a=1.668e-1,
                        cp_b=4.2610e-5, cp_c=-1705.4, cp_d=-5.414e-1),
    "quartz": dict(h=-910.710, s=41.43, v0=2.269, n=3, a0=0.0,
                   K0=730, dKdP=6, dKdP2=-8.2e-3, smax=4.95e-3,
                   vmax=1.188e-1, Tc0=847, cp_a=9.29e-2, cp_b=-6.42e-7,
                   cp_c=-714.9, cp_d=-0.7161),
    "coesite": dict(h=-906.990, s=39.60, v0=2.064, n=3, a0=1.23e-5,
                    K0=979, dKdP=4.19, dKdP2=-4.3e-3, cp_a=1.078e-1,
                    cp_b=-3.279e-6, cp_c=-190.3, cp_d=-1.0416),
    "stishovite": dict(h=-876.720, s=24.0, v0=1.401, n=3, a0=1.58e-5,
                       K0=3090, dKdP=4.6, dKdP2=-1.50e-3, cp_a=6.81e-2,
                       cp_b=6.010e-6, cp_c=-1978.2, cp_d=-8.21e-2),
    "magnetite": dict(h=-1114.510, s=146.9, v0=4.452, n=7, a0=3.71e-5,
                      K0=1857, dKdP=4.05, dKdP2=-2.2e-3, smax=35.0,
                      vmax=0.0, Tc0=848),
}


def tait_VdP(phase: str, pkbar, T_K, Tref: float = 298.15):
    """Tait EOS pressure contribution to Gibbs energy
    (Holland & Powell 2011; reference ``EOSs/tait.py:6-59``)."""
    p = EOS_PARAMS[phase]
    s, v0, n, a0, K0, dKdP, dKdP2 = (
        p["s"], p["v0"], p["n"], p["a0"], p["K0"], p["dKdP"], p["dKdP2"]
    )
    theta = 10636.0 / (s / n + 6.44)
    u0 = theta / Tref
    u = theta / np.asarray(T_K, dtype=float)
    xi0 = u0**2 * np.exp(u0) / (np.exp(u0) - 1) ** 2.0
    a = (1.0 + dKdP) / (1.0 + dKdP + K0 * dKdP2)
    b = dKdP / K0 - dKdP2 / (1.0 + dKdP)
    c = (1.0 + dKdP + K0 * dKdP2) / (dKdP**2.0 + dKdP - K0 * dKdP2)
    Pth = a0 * K0 * theta / xi0 * (1 / (np.exp(u) - 1.0) - 1 / (np.exp(u0) - 1.0))
    PV0 = pkbar * v0
    part1 = np.sign(1 - b * Pth) * np.abs(1 - b * Pth) ** (1 - c)
    part2 = np.sign(1 + b * (pkbar - Pth)) * np.abs(1 + b * (pkbar - Pth)) ** (1 - c)
    part3 = b * (c - 1) * pkbar
    with np.errstate(divide="ignore", invalid="ignore"):
        VdP = PV0 * (1 - a + a * (part1 - part2) / part3)
    # pkbar → 0 limit: VdP → 0
    return np.where(np.asarray(pkbar) == 0.0, 0.0, VdP)


def landau(phase: str, pkbar, T_K, vmax=None):
    """Landau excess Gibbs energy, Anenberg formulation
    (reference ``EOSs/tools.py:7-66``)."""
    p = EOS_PARAMS[phase]
    if vmax is None:
        vmax = p["vmax"]
    smax, tc0 = p["smax"], p["Tc0"]
    t = np.asarray(T_K, dtype=float)
    Q2_0 = np.sqrt(1 - 298.15 / tc0)
    tc = tc0 + np.asarray(pkbar) * vmax / smax
    Q2 = np.where(t > tc, 0.0, np.sqrt(np.clip((tc - t) / tc0, 0.0, None)))
    return (
        smax * (tc0 * (Q2_0 + (Q2**3 - Q2_0**3) / 3) - tc * Q2 - t * (Q2_0 - Q2))
        + np.asarray(pkbar) * vmax * Q2_0
    )


def landau_holland(phase: str, pkbar, T_K, vmax=None):
    """Landau excess Gibbs energy, Holland & Powell (1998) formulation
    (reference ``EOSs/tools.py:102-164``).

    Differs from the Anenberg form in carrying an explicit excess-volume
    VdP term built from a temperature-corrected bulk modulus
    (K = K0·(1 − 1.5e-4·(T−298))) instead of folding the volume of
    disorder into the critical-temperature shift alone.
    """
    p = EOS_PARAMS[phase]
    if vmax is None:
        vmax = p["vmax"]
    smax, tc0, a0, K0 = p["smax"], p["Tc0"], p["a0"], p["K0"]
    t = np.asarray(T_K, dtype=float)
    pk = np.asarray(pkbar, dtype=float)
    tc = tc0 + vmax * pk / smax
    Q2_0 = np.sqrt(1 - 298.15 / tc0)
    Q2 = np.where(t > tc, 0.0, np.sqrt(np.clip((tc - t) / tc0, 0.0, None)))
    K = K0 * (1 - 1.5e-4 * (t - 298))
    h = smax * tc0 * (Q2_0 - Q2_0**3 / 3)
    s = smax * Q2_0
    vt = vmax * Q2_0 * (1 + a0 * (t - 298)) - 20 * a0 * (np.sqrt(t) - np.sqrt(298))
    vtdP = vt * K / 3 * ((1 + 4 * pk / K) ** 0.75 - 1)
    delta_G_landau = smax * ((t - tc0) * Q2 + (tc * Q2**3) / 3)
    return h - t * s + vtdP + delta_G_landau


def landau_P_dependent(phase: str, pkbar, T_K, formulation: str = "anenberg"):
    """``EOSs/tools.py:69-99``; ``formulation="holland"`` selects the
    Holland (1998) form (reference switch at ``tools.py:92-99``)."""
    if formulation == "holland":
        return landau_holland(phase, pkbar, T_K) - landau_holland(
            phase, 0.0, T_K, vmax=0.0
        )
    return landau(phase, pkbar, T_K) - landau(phase, 0.0, T_K, vmax=0.0)


def enthalpy(phase: str, T_K, Tref: float = 298.15):
    """Cp·dT integral (``EOSs/tools.py:211-241``)."""
    p = EOS_PARAMS[phase]
    a, b, c, d = p["cp_a"], p["cp_b"], p["cp_c"], p["cp_d"]

    def integral(T):
        return a * T + 0.5 * b * T**2.0 - c / T + 2 * d * np.sqrt(T)

    return integral(np.asarray(T_K, dtype=float)) - integral(Tref)


def entropy(phase: str, T_K, Tref: float = 298.15):
    """(Cp/T)·dT integral (``EOSs/tools.py:244-274``)."""
    p = EOS_PARAMS[phase]
    a, b, c, d = p["cp_a"], p["cp_b"], p["cp_c"], p["cp_d"]

    def integral(T):
        return a * np.log(T) + b * T - c / 2 * T**-2.0 - 2 * d * T ** (-0.5)

    return integral(np.asarray(T_K, dtype=float)) - integral(Tref)


def gibbs(phase: str, pkbar, T_K):
    """Gibbs energy incl. Tait VdP and Landau where applicable
    (``EOSs/tools.py:186-206``)."""
    p = EOS_PARAMS[phase]
    h = p["h"]
    s = p["s"] / 1e3
    G = h + enthalpy(phase, T_K) - np.asarray(T_K) * (s + entropy(phase, T_K))
    G = G + tait_VdP(phase, pkbar, T_K)
    if phase in ("quartz", "magnetite"):
        G = G + landau(phase, pkbar, T_K)
    return G


def phase_transition(pkbar, T_K, phase_1: str, phase_2: str):
    """ΔG of phase_1 → phase_2 (``EOSs/tools.py:167-208``)."""
    return gibbs(phase_1, pkbar, T_K) - gibbs(phase_2, pkbar, T_K)


def bisect_vectorized(f, lo, hi, iters: int = 80):
    """Vectorized bisection: find f(x)=0 for arrays of brackets.

    All rows bisect simultaneously — the Spark-friendly replacement for
    per-row ``scipy.fsolve`` (cf. ``fO2/QFM.py:51-63``), and the model
    tier's one sign bisection. ``lo`` moves to the midpoint where
    ``f(mid)`` has the sign of ``f(lo)``, which therefore never changes;
    a NaN row never moves ``lo``."""
    lo = np.asarray(lo, dtype=float)
    hi = np.asarray(hi, dtype=float)
    sign_lo = np.sign(f(lo))
    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        same = np.sign(f(mid)) == sign_lo
        lo = np.where(same, mid, lo)
        hi = np.where(same, hi, mid)
    return 0.5 * (lo + hi)


# Upper bisection brackets, kbar. The quartz→coesite ΔG curve has a
# second (unphysical) root at ~270-370 kbar; the reference's fsolve from
# x0=8 kbar (``fO2/QFM.py:51``) converges to the low root, so bracket
# below the second one.
_TRANSITION_BRACKET_HI = {
    ("quartz", "coesite"): 150.0,
    ("coesite", "stishovite"): 400.0,
    ("fayalite", "ringwoodite"): 400.0,
}


def transition_pressure(T_K, phase_1: str, phase_2: str,
                        lo: float = 1e-3, hi: float | None = None):
    """Pressure (kbar) of phase_1 → phase_2 equilibrium at T_K.

    Functions of temperature only — computed once per distinct T via
    vectorized bisection (reference solves per-row with fsolve at
    ``fO2/QFM.py:48-63``)."""
    if hi is None:
        hi = _TRANSITION_BRACKET_HI.get((phase_1, phase_2), 400.0)
    T = np.asarray(T_K, dtype=float)

    def f(p):
        return phase_transition(p, T, phase_1, phase_2)

    return bisect_vectorized(f, np.full_like(T, lo), np.full_like(T, hi))


# ----------------------------------------------------------------------
# QFM buffer (reference ``fO2/QFM.py``)
# ----------------------------------------------------------------------

def _VdP_QFM_no_transitions(T_K, p_kbar):
    """``fO2/QFM.py:13-30``."""
    VdP_qtz = tait_VdP("quartz", p_kbar, T_K) + landau_P_dependent(
        "quartz", p_kbar, T_K
    )
    VdP_fay = tait_VdP("fayalite", p_kbar, T_K)
    VdP_mt = tait_VdP("magnetite", p_kbar, T_K)
    return VdP_qtz, VdP_mt, VdP_fay


def _VdP_QFM_phase_transitions(T_K, p_kbar):
    """``fO2/QFM.py:33-99``, vectorized: transition pressures from
    bisection, piecewise VdP assembled with masks."""
    T = np.asarray(T_K, dtype=float)
    p = np.asarray(p_kbar, dtype=float)
    T, p = np.broadcast_arrays(T, p)

    P_qtz_coe = transition_pressure(T, "quartz", "coesite")
    P_coe_stish = transition_pressure(T, "coesite", "stishovite")
    P_fay_ring = transition_pressure(T, "fayalite", "ringwoodite")

    # SiO2 polymorphs
    p_q = np.minimum(p, P_qtz_coe)
    VdP_SiO2 = tait_VdP("quartz", p_q, T) + landau_P_dependent("quartz", p_q, T)
    above_coe = p > P_qtz_coe
    p_c = np.minimum(p, P_coe_stish)
    VdP_coe = tait_VdP("coesite", p_c, T) - tait_VdP("coesite", P_qtz_coe, T)
    VdP_SiO2 = VdP_SiO2 + np.where(above_coe, VdP_coe, 0.0)
    above_stish = p > P_coe_stish
    VdP_stish = tait_VdP("stishovite", p, T) - tait_VdP(
        "stishovite", P_coe_stish, T
    )
    VdP_SiO2 = VdP_SiO2 + np.where(above_stish, VdP_stish, 0.0)

    # Fe2SiO4 polymorphs
    p_f = np.minimum(p, P_fay_ring)
    VdP_Fe2SiO4 = tait_VdP("fayalite", p_f, T)
    above_ring = p > P_fay_ring
    VdP_ring = tait_VdP("ringwoodite", p, T) - tait_VdP(
        "ringwoodite", P_fay_ring, T
    )
    VdP_Fe2SiO4 = VdP_Fe2SiO4 + np.where(above_ring, VdP_ring, 0.0)

    VdP_mt = tait_VdP("magnetite", p, T)
    return VdP_SiO2, VdP_mt, VdP_Fe2SiO4


def muO2_qfm_1bar(T_K):
    """O'Neill (1987) 1-bar QFM μO2 polynomial (``fO2/QFM.py:133-162``)."""
    T = np.asarray(T_K, dtype=float)
    return -587474 + 1584.427 * T - 203.3164 * T * np.log(T) + 0.092710 * T**2


def fo2_qfm_1bar(T_K, logshift=0.0):
    """``fO2/QFM.py:165-184``."""
    T = np.asarray(T_K, dtype=float)
    return np.exp(muO2_qfm_1bar(T) / (R * T)) * 10.0**logshift


def fo2_qfm(logshift, T_K, P_bar):
    """Full QFM fO2(T, P): O'Neill 1-bar polynomial + EOS pressure term
    with phase transitions (``fO2/QFM.py:187-239``). Vectorized over
    arrays; float64 (the reference downcasts to float32 at
    ``QFM.py:231-234`` — we keep double, SURVEY §1.2)."""
    T = np.asarray(T_K, dtype=float)
    P = np.asarray(P_bar, dtype=float)
    T, P = np.broadcast_arrays(T, P)
    p_kbar = P / 1e3

    VdP_q, VdP_m, VdP_f = _VdP_QFM_phase_transitions(T, p_kbar)
    muO2_P = 1e3 * (3 * VdP_q + 2 * VdP_m - 3 * VdP_f)
    VdP_q1, VdP_m1, VdP_f1 = _VdP_QFM_no_transitions(T, 1.0 / 1e3)
    muO2_1bar_eos = 1e3 * (3 * VdP_q1 + 2 * VdP_m1 - 3 * VdP_f1)

    muO2 = muO2_qfm_1bar(T) + (muO2_P - muO2_1bar_eos)
    return np.exp(muO2 / (R * T)) * 10.0 ** float(logshift)


# ----------------------------------------------------------------------
# Birch-Murnaghan (reference ``EOSs/birch_murnaghan.py``)
# ----------------------------------------------------------------------

def birch_murnaghan_4th_order(V, V_0, K_0, Kprime_0, Kprime_prime_0):
    """Katsura & Tange (2019) eq. 27 (``birch_murnaghan.py:6-42``)."""
    x = V_0 / np.asarray(V, dtype=float)
    part_1 = 1.5 * K_0 * (x ** (7.0 / 3.0) - x ** (5.0 / 3.0))
    part_2 = 1 + 0.75 * (Kprime_0 - 4) * (x ** (2.0 / 3.0) - 1)
    part_3 = (1.0 / 24.0) * (
        9 * Kprime_0**2 - 63 * Kprime_0 + 9 * K_0 * Kprime_prime_0 + 143
    )
    part_4 = (x ** (2.0 / 3.0) - 1) ** 2
    return part_1 * (part_2 + part_3 * part_4)
