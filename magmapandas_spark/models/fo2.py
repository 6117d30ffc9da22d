"""Oxygen-fugacity buffers.

Spark-native re-expression of the reference's ``src/MagmaPandas/fO2/``
package. Closed-form buffers (NNO, Ru-RuO2, empirical IW variants, QFM
at 1 bar) compile to Column expressions; the exact QFM buffer at
pressure (Tait EOS + phase transitions, ``fO2/QFM.py:187-239``) runs as
an Arrow-vectorized pandas UDF over :mod:`magmapandas_spark.models.eos`,
with a broadcast (T,P)-grid fast path for scale (fO2(T,P) is
sample-independent — SURVEY §4.2).

All outputs are fO2 in bar (double; the reference downcasts to float32
at ``fO2/fO2_calculate.py:20-24``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from magmapandas_spark.models import eos
from magmapandas_spark.models.common import as_col, solver_column, tp_column

R = eos.R
LN10 = float(np.log(10.0))


def _offset(logshift) -> Column:
    return F.pow(F.lit(10.0), as_col(logshift))


# ----------------------------------------------------------------------
# expression tier (``fO2/NNO.py``, ``fO2/RuRuO2.py``, ``fO2/IW.py:474-577``)
# ----------------------------------------------------------------------

def fo2_nno(logshift, T_K, P_bar) -> Column:
    """Campbell et al. (2009) NNO buffer (``fO2/NNO.py:9-28``)."""
    T = as_col(T_K)
    P = as_col(P_bar) / F.lit(1e4)
    part_1 = (
        F.lit(8.699)
        + F.lit(1.642e-2) * P
        - F.lit(3e-4) * P**2
        + F.lit(2.7e-6) * P**3
        - F.lit(1e-8) * P**4
    )
    part_2 = (
        F.lit(-24205.0)
        + F.lit(444.73) * P
        - F.lit(5.929e-1) * P**2
        + F.lit(1.53e-3) * P**3
    ) / T
    return F.pow(F.lit(10.0), part_1 + part_2) * _offset(logshift)


def fo2_nno_1bar(logshift, T_K) -> Column:
    """O'Neill & Pownceby (1993) eq. 6 (``fO2/NNO.py:31-51``)."""
    T = as_col(T_K)
    muO2 = F.lit(-478967.0) + F.lit(248.514) * T - F.lit(9.7961) * F.log(T)
    return F.exp(muO2 / (F.lit(R) * T)) * _offset(logshift)


def fo2_nno_frost(logshift, T_K, P_bar) -> Column:
    """Frost (1991) NNO (``fO2/NNO.py:54-65``)."""
    T = as_col(T_K)
    P = as_col(P_bar)
    log10fO2 = F.lit(-24930.0) / T + F.lit(9.36) + F.lit(4.6e-2) * (P - 1) / T
    return F.pow(F.lit(10.0), log10fO2) * _offset(logshift)


def fo2_ruruo2(logshift, T_K, P_bar) -> Column:
    """Armstrong et al. (2019) eq. S3 (``fO2/RuRuO2.py:1-23``)."""
    T = as_col(T_K)
    P = as_col(P_bar) / F.lit(1e4)
    log10fO2 = (
        (
            F.lit(7.782)
            - F.lit(9.96e-3) * P
            + F.lit(1.932e-3) * P**2
            - F.lit(3.76e-5) * P**3
        )
        + (F.lit(-13763.0) + F.lit(592.0) * P - F.lit(3.955) * P**2) / T
        + (F.lit(-1.05e6) - F.lit(4622.0) * P) / T**2
    )
    return F.pow(F.lit(10.0), log10fO2) * _offset(logshift)


def fo2_iw_campbell(logshift, T_K, P_bar) -> Column:
    """Campbell et al. (2009) IW (``fO2/IW.py:474-492``)."""
    T = as_col(T_K)
    P = as_col(P_bar) * F.lit(1e5 / 1e9)
    part_1 = F.lit(6.54106) + F.lit(1.23e-3) * P
    part_2 = (
        F.lit(-28164.0)
        + F.lit(546.32) * P
        - F.lit(1.1341) * P**2
        + F.lit(1.93e-3) * P**3
    ) / T
    return F.pow(F.lit(10.0), part_1 + part_2) * _offset(logshift)


def fo2_fefeo94_oneill_huebner(logshift, T_K, P_bar) -> Column:
    """Fe-FeO(0.94) buffer (``fO2/IW.py:495-509``)."""
    T = as_col(T_K)
    P = as_col(P_bar) * F.lit(1e5 / 1e9)
    part_1 = F.lit(-28777.89) / T + F.lit(14.0572)
    part_2 = (
        F.lit(-2.039) * (F.log(T) / F.lit(LN10))
        + F.lit(550.0) * (P - F.lit(1e-4)) / T
    )
    return F.pow(F.lit(10.0), part_1 + part_2) * _offset(logshift)


def fo2_iw_zhang(logshift, T_K, P_bar) -> Column:
    """Zhang et al. (2017) blended IW (``fO2/IW.py:512-553``): below
    5 GPa interpolate O'Neill+Huebner ↔ Campbell, above pure Campbell —
    an ``F.when`` piecewise instead of boolean index concatenation."""
    P = as_col(P_bar)
    oh = fo2_fefeo94_oneill_huebner(logshift, T_K, P_bar)
    camp = fo2_iw_campbell(logshift, T_K, P_bar)
    w = F.lit(0.2) * P / F.lit(1e4)
    blended = F.pow(
        F.lit(10.0),
        (F.log(oh) / F.lit(LN10)) * (F.lit(1.0) - w)
        + w * (F.log(camp) / F.lit(LN10)),
    )
    return F.when(P < F.lit(5e4), blended).otherwise(camp)


def fo2_iw_oneill1993(T_K, logshift=0) -> Column:
    """O'Neill (1993) 1-bar IW, piecewise in T (``fO2/IW.py:556-577``)."""
    T = as_col(T_K)
    lnT = F.log(T)
    mu_low = (
        F.lit(-605568.0)
        + F.lit(1366.42) * T
        - F.lit(182.7955) * lnT * T
        + F.lit(0.10359) * T**2
    )
    mu_mid = F.lit(-519113.0) + F.lit(59.129) * T + F.lit(8.9276) * lnT * T
    mu_high = F.lit(-550915.0) + F.lit(269.106) * T - F.lit(16.9484) * lnT * T
    mu = (
        F.when(T < F.lit(1042.0), mu_low)
        .when(T <= F.lit(1184.0), mu_mid)
        .otherwise(mu_high)
    )
    return F.exp(mu / (F.lit(R) * T)) * _offset(logshift)


def fo2_qfm_1bar(logshift, T_K) -> Column:
    """O'Neill (1987) 1-bar QFM (``fO2/QFM.py:133-184``) — pure
    expression, the fast path when P ≈ 1 bar."""
    T = as_col(T_K)
    muO2 = (
        F.lit(-587474.0)
        + F.lit(1584.427) * T
        - F.lit(203.3164) * T * F.log(T)
        + F.lit(0.092710) * T**2
    )
    return F.exp(muO2 / (F.lit(R) * T)) * _offset(logshift)


# ----------------------------------------------------------------------
# solver tier: exact QFM at pressure
# ----------------------------------------------------------------------

def fo2_qfm(logshift, T_K, P_bar) -> Column:
    """Exact QFM fO2(T,P) (``fO2/QFM.py:187-239``): O'Neill 1-bar
    polynomial + EOS pressure term with phase transitions, as a
    :func:`~magmapandas_spark.models.common.tp_column` (bisection
    replaces per-row fsolve)."""
    return tp_column(
        lambda T, P: eos.fo2_qfm(0.0, T, P), T_K, P_bar
    ) * _offset(logshift)


def fo2_iw(logshift, T_K, P_bar) -> Column:
    """Exact IW buffer, Hirschmann 2021 (``fO2/IW.py:420-471``) — see
    :mod:`magmapandas_spark.models.iw`."""
    from magmapandas_spark.models import iw

    return iw.fo2_iw(logshift, T_K, P_bar)


# registry (``fO2/fO2_calculate.py:11-25`` dispatch)
fO2_buffers = {
    "QFM": fo2_qfm,
    "IW": fo2_iw,
    "QFM_1bar": lambda logshift, T_K, P_bar=None: fo2_qfm_1bar(logshift, T_K),
    "NNO": fo2_nno,
    "NNO_1bar": lambda logshift, T_K, P_bar=None: fo2_nno_1bar(logshift, T_K),
    "NNO_frost": fo2_nno_frost,
    "RuRuO2": fo2_ruruo2,
    "IW_campbell": fo2_iw_campbell,
    "IW_zhang": fo2_iw_zhang,
    "IW_oneill1993_1bar": lambda logshift, T_K, P_bar=None: fo2_iw_oneill1993(
        T_K, logshift
    ),
    "FeFeO94": fo2_fefeo94_oneill_huebner,
}


def calculate_fO2(T_K, P_bar, fO2_buffer: str = "QFM", dfO2: float = 0.0) -> Column:
    """Dispatcher (``fO2/fO2_calculate.py:11-25``)."""
    return fO2_buffers[fO2_buffer](dfO2, T_K, P_bar)


def fo2_grid_column(
    spark,
    buffer: str = "QFM",
    logshift: float = 0.0,
    T_range=(600.0, 2600.0),
    n_T: int = 801,
    P_levels=None,
):
    """Grid-interpolated fO2(T,P) — the 100 TB fast path (SURVEY §4.2).

    The exact QFM/IW buffers solve EOS phase-transition / wustite
    equilibria per distinct (T,P); both are *sample-independent*, so at
    scale we precompute a (T × P-level) grid ONCE driver-side, broadcast
    the few-KB table (once per SparkContext and grid), and each
    executor batch does O(1) searchsorted + bilinear interpolation
    (linear in T and P) as a
    :func:`~magmapandas_spark.models.common.solver_column` kernel — no
    root-finding on the hot path at all. Returns a Column factory
    usable exactly like :func:`fo2_qfm` / :func:`fo2_iw`.

    Accuracy vs the exact solvers at n_T=801 over 900-1900 K, 1-8e4 bar
    (asserted in tests): ≤0.02 dex worst case, hit only at phase-
    transition kinks (quartz Landau / Fe polymorphs); means ~1e-4 dex —
    well below every model's own 1σ."""
    from magmapandas_spark.models import iw as iw_mod

    key = (buffer, tuple(T_range), n_T,
           tuple(P_levels) if P_levels is not None else None)
    if key not in _GRID_CACHE:
        if P_levels is None:
            # linear spacing: the pressure term of mu_O2 is ~V·P (linear
            # in P up to slow EOS compression), so linear-P interpolation
            # converges fast where log-P badly undershoots between
            # levels; 1-kbar spacing bounds the error at the
            # P-dependent quartz-coesite transition kink
            P_levels = list(np.linspace(1.0, 1e5, 101))
        T_axis = np.linspace(T_range[0], T_range[1], n_T)
        P_axis = np.asarray(sorted(P_levels), dtype=float)
        fn = {"QFM": eos.fo2_qfm, "IW": iw_mod.fo2_iw_np}[buffer]
        grid = np.empty((len(P_axis), n_T))
        for j, P in enumerate(P_axis):
            grid[j] = np.log10(fn(0.0, T_axis, np.full_like(T_axis, P)))
        _GRID_CACHE[key] = (T_axis, P_axis, grid)
    sc = spark.sparkContext
    held = _GRID_BROADCASTS.get(key)
    if held is None or held[0] is not sc:
        held = _GRID_BROADCASTS[key] = (sc, sc.broadcast(_GRID_CACHE[key]))
    table = held[1]

    def interp(a: dict[str, np.ndarray]) -> np.ndarray:
        Ts, Ps, G = table.value
        t = np.clip(a["T_K"], Ts[0], Ts[-1])
        p = np.clip(a["P_bar"], Ps[0], Ps[-1])
        ti = np.clip(np.searchsorted(Ts, t) - 1, 0, len(Ts) - 2)
        pi = np.clip(np.searchsorted(Ps, p) - 1, 0, len(Ps) - 2)
        wt = (t - Ts[ti]) / (Ts[ti + 1] - Ts[ti])
        wp = (p - Ps[pi]) / (Ps[pi + 1] - Ps[pi])
        v = (
            G[pi, ti] * (1 - wp) * (1 - wt)
            + G[pi, ti + 1] * (1 - wp) * wt
            + G[pi + 1, ti] * wp * (1 - wt)
            + G[pi + 1, ti + 1] * wp * wt
        )
        return 10.0 ** v

    def column(T_K, P_bar) -> Column:
        inputs = {"T_K": as_col(T_K), "P_bar": as_col(P_bar)}
        return solver_column(interp, inputs) * F.pow(
            F.lit(10.0), F.lit(float(logshift))
        )

    return column


_GRID_CACHE: dict = {}
# grid key -> (SparkContext, broadcast of the grid): every column built
# on the live context reads one broadcast (PySpark runs one context per
# process, so a new context replaces its predecessor's entry)
_GRID_BROADCASTS: dict = {}
