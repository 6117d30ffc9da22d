"""Exact Iron-Wustite (IW) oxygen-fugacity buffer, Hirschmann (2021).

Spark-native re-expression of the reference's ``fO2/IW.py:1-471``:
Gibbs free-energy polynomials for Fe polymorphs / wustite / O2
(``IW.py:101-128``, params from ``fO2/data/IW_G0_params.csv`` —
published values of Hidayat et al. 2015 and Dinsdale 1991), bcc-alpha
magnetic correction (``IW.py:131-157``), Vinet EOS pressure terms
(``EOSs/vinet.py:139-185``, params Hirschmann et al. 2018 table S2),
min-G Fe-polymorph selection (``IW.py:227-249``), wustite solid-solution
composition from the Fe-wustite equilibrium (``IW.py:275-341``,
per-row ``brentq`` in the reference), and the O2 chemical potential
(``IW.py:381-417``).

Execution strategy (100 TB posture):
- everything is a *function of (T, P) only* — sample-independent — so the
  Arrow UDF dedupes distinct (T, P) pairs per batch before evaluating,
  and :func:`~magmapandas_spark.models.fo2.fo2_grid_column` interpolates
  a broadcast (T, P) grid at scale (SURVEY §4.2);
- the per-row ``brentq``/``fsolve`` of the reference become *vectorized
  bisection* over the whole batch (both objective functions are
  monotonic in their bracket), so the kernel is pure numpy — no Python
  loop per row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from magmapandas_spark.models import eos
from magmapandas_spark.models.common import as_col, tp_column

R = 8.31446261815324

# ----------------------------------------------------------------------
# Gibbs polynomial parameters (``fO2/data/IW_G0_params.csv``; published
# data: Hidayat et al. 2015 [FeO, FeO1.5], Dinsdale 1991 [O2, Fe]).
# G0(T) = a + bT + cT·lnT + d·lnT + eT² + fT³ + g/T + hT⁷ + i/T⁹
# ----------------------------------------------------------------------

_G0 = {
    # phase: (low-T params, high-T params), each (a..i)
    "Fe_fcc": (
        (-236.7, 132.416, -24.6643, 0.0, -0.0038, -5.89e-08, 77359.0, 0.0, 0.0),
        (-27097.396, 300.253, -46.0, 0.0, 0.0, 0.0, 0.0, 0.0, -2.79e31),
    ),
    "Fe_bcc-alpha": (
        (1225.7, 124.134, -23.5143, 0.0, -0.004398, -5.89e-08, 77359.0, 0.0, 0.0),
        (-25383.581, 299.313, -46.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.30e31),
    ),
    "Fe_HCP": (
        (-2480.08, 136.725, -24.6643, 0.0, -0.00375752, -5.89e-08, 77358.5, 0.0, 0.0),
        (-29340.78, 304.562, -46.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.79e31),
    ),
    "Fe_bcc-delta": (
        (5970.7, 124.134, -23.5143, 0.0, -0.00439752, -5.89e-08, 77358.5, 0.0, 0.0),
        (-20638.581, 299.313, -46.0, 0.0, 0.0, 0.0, 0.0, 0.0, 2.30e31),
    ),
    "Fe_liquid": (
        (13265.87, 117.57557, -23.5143, 0.0, -0.00439752, -5.89e-08, 77358.5,
         -3.68e-21, 0.0),
        (-10838.83, 291.302, -46.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
    ),
    "FeO": (
        (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0.0, 297568.8,
         0.0, 0.0),
        (-285203.5, 274.2455, -49.19444, 574.4469, -0.004678477, 0.0, 297568.8,
         0.0, 0.0),
    ),
    "FeO1.5": (
        (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0.0, 1498519.0,
         0.0, 0.0),
        (-523138.0, 73.37019, -26.96809, 25471.09, -0.008836071, 0.0, 1498519.0,
         0.0, 0.0),
    ),
    "O2": (
        (-13137.52, 25.32003, -33.627, 0.0, -0.00119159, 1.356e-08, 525809.556,
         0.0, 0.0),
        (-13137.52, 25.32003, -33.627, 0.0, -0.00119159, 1.36e-08, 525809.556,
         0.0, 0.0),
    ),
}

# O2 below 1000 K (``IW.py:30-43``)
_O2_LOW_T = (-6961.7445, -51.0057, -22.271, 0.0, -1.01977e-2, 1.32369e-8,
             -7629.7484, 0.0, 0.0)

_FE_POLYMORPHS = ["Fe_fcc", "Fe_bcc-alpha", "Fe_HCP", "Fe_bcc-delta", "Fe_liquid"]

# Vinet EOS parameters (``IW.py:69-87``; Hirschmann et al. 2018 table S2,
# Komabayashi 2014): V_0 [cm3/mol], K_0 [GPa], Kprime_0, alpha0, delta0, kappa
_VINET = {
    "FeO": (12.256, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "FeO1.5": (16.372, 149.0, 3.83, 4.5e-5, 4.25, 1.4),
    "Fe_fcc": (6.82, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_bcc-alpha": (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_HCP": (6.753, 163.4, 5.38, 5.8e-05, 5.1, 1.4),
    "Fe_bcc-delta": (7.092, 163.4, 5.38, 7e-05, 5.5, 1.4),
    "Fe_liquid": (6.88, 148.0, 5.8, 9e-5, 5.1, 1.4),
}

# FeO-FeO1.5 mixing parameters, J/mol (``IW.py:98``; Hidayat et al. 2015)
_Q00, _Q10 = -5.94e4, 4.27e4


def _gibbs0_poly(T, params):
    a, b, c, d, e, f, g, h, i = params
    return (a + b * T + c * T * np.log(T) + d * np.log(T) + e * T**2
            + f * T**3 + g / T + h * T**7 + i * T**-9.0)


def _gibbs0(phase: str, T: np.ndarray) -> np.ndarray:
    """1-bar Gibbs energy with the reference's T-range switching
    (``IW.py:160-224``): high params above 1811 K; O2 gets dedicated
    low-T params below 1000 K."""
    low, high = _G0[phase]
    out = np.where(T > 1811.0, _gibbs0_poly(T, high), _gibbs0_poly(T, low))
    if phase == "O2":
        out = np.where(T < 1000.0, _gibbs0_poly(T, _O2_LOW_T), out)
    return out


def _gibbs_fe_magnetic(T: np.ndarray) -> np.ndarray:
    """bcc-alpha magnetic Gibbs contribution (``IW.py:131-157``),
    vectorized piecewise around the Curie temperature. The T ≥ Tc branch
    reproduces the reference formula exactly (including its constant
    third term) for output parity."""
    Tc, P_factor, beta, A = 1043.0, 0.4, 2.22, 1.55828482
    tau = T / Tc
    below = 1.0 - (1.0 / A) * (
        (79.0 / tau) / (140.0 * P_factor)
        + (474.0 / 497.0) * (1.0 / P_factor - 1.0)
        * (tau**3 / 6.0 + tau**9 / 135.0 + tau**15 / 600.0)
    )
    above = (-1.0 / A) * (tau**-5 / 10.0 + tau**-15 / 315.0 + 1.0 / 1500.0)
    g = np.where(T < Tc, below, above)
    return g * (R * T * np.log(beta + 1.0))


# ----------------------------------------------------------------------
# Vinet EOS pressure term — vectorized (replaces per-point fsolve +
# python trapezoid loop at ``EOSs/vinet.py:68-185``)
# ----------------------------------------------------------------------

def _vinet_V_roomT(P_GPa: np.ndarray, V_0, K_0, Kprime_0,
                   iters: int = 60) -> np.ndarray:
    """V(P) at 298.15 K: invert P_Vinet(V) by bisection — monotonically
    decreasing in V, bracketed by (0.2·V0, 1.001·V0). Its own loop, not
    :func:`eos.bisect_vectorized`: the ``fm < 0`` rule moves ``lo`` where
    ``fm`` is exactly 0 or NaN, where the sign rule would move ``hi``."""
    lo = np.full_like(P_GPa, 0.2 * V_0)
    hi = np.full_like(P_GPa, V_0 * 1.001)

    def f(V):
        x = (V / V_0) ** (1.0 / 3.0)
        return 3.0 * K_0 * x**-2 * (1.0 - x) * np.exp(
            1.5 * (Kprime_0 - 1.0) * (1.0 - x)
        ) - P_GPa

    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        fm = f(mid)
        neg = fm < 0  # pressure too low → volume too big → move hi down
        hi = np.where(neg, mid, hi)
        lo = np.where(neg, lo, mid)
    return 0.5 * (lo + hi)


def _vinet_VdP(P_GPa: np.ndarray, T: np.ndarray, phase: str,
               n_step: int = 100) -> np.ndarray:
    """∫V dP from 1 bar to P (J/mol), trapezoid over ``n_step`` points
    (``vinet.py:139-185``) — evaluated for ALL batch elements at once:
    grid shape (n_step, n)."""
    V_0, K_0, Kprime_0, alpha0, delta0, kappa = _VINET[phase]
    P = np.asarray(P_GPa, dtype=float)
    # the room-T volume bisection depends ONLY on the P integration
    # grid — dedupe target pressures so constant-P batches (grid
    # precompute, per-level evaluation) pay for one column, not n
    uP, inv = np.unique(P, return_inverse=True)
    grid_u = np.linspace(np.full_like(uP, 1e-4), uP, num=n_step, axis=0)
    V_room_u = _vinet_V_roomT(grid_u, V_0, K_0, Kprime_0)
    grid = grid_u[:, inv]
    V_room = V_room_u[:, inv]
    alpha = alpha0 * np.exp((-delta0 / kappa) * (1.0 - (V_room / V_0) ** kappa))
    V = V_room * np.exp(alpha * (T[None, :] - 298.15))
    VdP = np.trapz(V, grid, axis=0) * 1000.0  # cm3·GPa/mol → J/mol
    return np.where(P <= 1e-4, 0.0, VdP)


# ----------------------------------------------------------------------
# wustite solid solution (``IW.py:275-378``)
# ----------------------------------------------------------------------

def _gamma_FeO(X, q00=_Q00, q10=_Q10):
    return (q00 + 2.0 * q10 * (1.0 - X)) * X**2


def _gamma_FeO1p5(X, q00=_Q00, q10=_Q10):
    return (1.0 - X) ** 2 * (q00 + q10 - 2.0 * q10 * X)


def _solve_XFeO1p5(T: np.ndarray, dG_Fe_wustite: np.ndarray,
                   iters: int = 80) -> np.ndarray:
    """Equilibrium FeO1.5 fraction of FeO1.5 + ½Fe = 1.5FeO
    (``IW.py:275-341``): vectorized bisection on (1e-6, 1-1e-6); the
    objective runs +∞ → -∞ across the bracket (log term), so a sign
    bisection always converges where brentq would."""

    def f(X):
        return (
            0.5 * dG_Fe_wustite
            + R * T * np.log((1.0 - X) ** 1.5 / X)
            + 1.5 * _gamma_FeO(X)
            - _gamma_FeO1p5(X)
        )

    out = eos.bisect_vectorized(
        f, np.full_like(T, 1e-6), np.full_like(T, 1.0 - 1e-6), iters
    )
    # reference fallback: non-bracketed root → 1e-6 (``IW.py:296-301``)
    return np.where(np.sign(f(np.full_like(T, 1e-6))) < 0, 1e-6, out)


# ----------------------------------------------------------------------
# assembled μO2 and fO2
# ----------------------------------------------------------------------

def mu_O2_iw_np(T_K, P_bar, suppress_Fe_liquid: bool = False) -> np.ndarray:
    """Chemical potential of O2 at IW for vectors of (T, P)
    (``IW.py:381-417``)."""
    T = np.atleast_1d(np.asarray(T_K, dtype=float))
    P = np.atleast_1d(np.asarray(P_bar, dtype=float))
    P_GPa = P / 1e4

    gibbs = {ph: _gibbs0(ph, T) for ph in _G0}
    gibbs["Fe_bcc-alpha"] = gibbs["Fe_bcc-alpha"] + _gibbs_fe_magnetic(T)

    pressurized = P > 1.0
    if np.any(pressurized):
        for ph in _FE_POLYMORPHS + ["FeO", "FeO1.5"]:
            gibbs[ph] = gibbs[ph] + np.where(
                pressurized, _vinet_VdP(P_GPa, T, ph), 0.0
            )

    polys = _FE_POLYMORPHS[:-1] if suppress_Fe_liquid else _FE_POLYMORPHS
    gibbs_Fe = np.min(np.stack([gibbs[ph] for ph in polys], axis=0), axis=0)

    dG_FeO_FeO1p5 = gibbs["FeO1.5"] - gibbs["FeO"] - gibbs["O2"] / 4.0
    dG_Fe_wustite = 3.0 * gibbs["FeO"] - 2.0 * gibbs["FeO1.5"] - gibbs_Fe

    X = _solve_XFeO1p5(T, dG_Fe_wustite)
    mu_O2 = 4.0 * (
        dG_FeO_FeO1p5
        + R * T * np.log(X / (1.0 - X))
        + _gamma_FeO1p5(X)
        - _gamma_FeO(X)
    )
    return mu_O2


def fo2_iw_np(logshift, T_K, P_bar) -> np.ndarray:
    """IW fO2 (bar) for numpy inputs (``IW.py:420-471``)."""
    T = np.atleast_1d(np.asarray(T_K, dtype=float))
    mu = mu_O2_iw_np(T, P_bar)
    return np.exp(mu / (R * T)) * 10.0**logshift


def fo2_iw(logshift, T_K, P_bar) -> Column:
    """Exact IW buffer (Hirschmann 2021) as a Column: a
    :func:`~magmapandas_spark.models.common.tp_column` with per-batch
    (T,P) dedup."""
    return tp_column(lambda T, P: fo2_iw_np(0.0, T, P), T_K, P_bar) * F.pow(
        F.lit(10.0), as_col(logshift)
    )
