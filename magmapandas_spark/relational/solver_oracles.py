"""DuckDB recursive-CTE oracles for the solver-tier queries.

The engine runs these models as Arrow-vectorized numpy kernels
(fixed-iteration bisection / per-row-frozen fixed points); because every
row's trajectory is a pure function of its own inputs, the identical
recurrence is expressible in ANSI SQL as a recursive CTE — giving the
correctness gate *exact* cross-engine oracles for:

- ``fe3fe2_solvers2``  — oneill2006 + armstrong2019 fixed points
  (80-step bisection on ``g(x) − x``, ``models.fe3fe2.oneill2006_np``,
  ``models.fe3fe2.armstrong2019_np``);
- ``kd_toplis_iteration`` / ``kd_blundy_saper`` — forsterite fixed
  point with per-row convergence masks (``models.kd.iterate_kd_np``);
- ``volatile_saturation_im`` — Iacono-Marziano mixed saturation
  (60-step bisection on the closed-form partial-pressure residual,
  ``models.volatiles.mixed_saturation_np``);
- ``isobar_grid`` — dissolved-H2O inner bisection + closed-form CO2
  (``models.volatiles.h2o_solubility_np``,
  ``models.volatiles.co2_solubility_np``);
- ``mc_thermometer`` — md5-counter Box-Muller draws (bit-identical to
  ``core.geoframe._hash_gauss``) + the putirka15 closed form;
- ``fe3fe2_deng2020`` — BM4 volume bisections over the per-row
  pressure grid, trapezoid ΔV·dP, then the outer fixed point
  (``models.fe3fe2.deng_dVdP``, ``models.fe3fe2.deng2020_np``).

Bisection is self-correcting: a 1-ulp libm difference between numpy and
DuckDB can flip one sign test, but the bracket still contains a point
within noise of the true root, so after N halvings both engines agree to
~1e-15 relative — far inside the ROUND(…, 4-6) used by the gate.
"""

from __future__ import annotations

from magmapandas_spark.chem.elements import (
    calculate_weight,
    cation_amount,
    cation_name,
)
from magmapandas_spark.relational.suite import MELT_SPECIES, T_EXPR

R = 8.31446261815324
W = calculate_weight


def _mol_cols() -> str:
    """SELECT-list computing oxide mole fractions m_<species> from melt
    wt.% columns (term order matches ``mole_fraction_exprs``)."""
    terms = [f"({s} / {W(s)!r})" for s in MELT_SPECIES]
    total = " + ".join(terms)
    cols = [
        f"(({s} / {W(s)!r}) / ({total})) AS m_{s}" for s in MELT_SPECIES
    ]
    return ",\n    ".join(cols)


def _e_terms() -> dict[str, str]:
    """Cation-mole terms e_<cation> = m_species · n_cations (species with
    a unique cation each in MELT_SPECIES)."""
    out = {}
    for s in MELT_SPECIES:
        out[cation_name(s)] = f"(m_{s} * {float(cation_amount(s))!r})"
    return out


def _rest_expr() -> str:
    """Sum of cation moles over every species except FeO (species
    order)."""
    terms = [
        f"(m_{s} * {float(cation_amount(s))!r})"
        for s in MELT_SPECIES
        if s != "FeO"
    ]
    return "(" + " + ".join(terms) + ")"


def _bisect_cte(
    name: str,
    base: str,
    consts: list[str],
    h,               # callable: SQL-string x -> SQL string for h(x)
    lo: str,
    hi: str,
    iters: int,
) -> str:
    """Recursive-CTE mirror of ``eos.bisect_vectorized``
    (``models.eos.bisect_vectorized``): keep the endpoint whose sign matches
    f(lo); after ``iters`` halvings the root is 0.5·(lo+hi)."""
    cols = ", ".join(consts)
    return f"""
{name} AS (
  SELECT name, {cols}, 0 AS it,
         CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi,
         ({h(lo)}) AS flo
  FROM {base}
  UNION ALL
  SELECT name, {cols}, it + 1,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN mid ELSE lo END AS lo,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN hi ELSE mid END AS hi,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN fmid ELSE flo END AS flo
  FROM (
    SELECT *, ({h('mid')}) AS fmid FROM (
      SELECT *, 0.5 * (lo + hi) AS mid FROM {name} WHERE it < {iters}
    )
  )
)"""


def _final(name: str, iters: int) -> str:
    return f"(SELECT * FROM {name} WHERE it = {iters})"


# ----------------------------------------------------------------------
# fe3fe2_solvers2: oneill2006 + armstrong2019
# ----------------------------------------------------------------------

def _split_cats(x: str) -> dict[str, str]:
    """Cation fractions after the FeO/Fe2O3 split at Fe3/Fe2 = x
    (``models.common.feo_fe2o3_split_np`` +
    ``models.common.cation_fractions_np``); total cation moles
    collapse to rest + eFe + eFe3."""
    fe2f = f"(1.0 / (1.0 + {x}))"
    e_fe = f"(m_FeO * {fe2f})"
    e_fe3 = f"(m_FeO * (1.0 - {fe2f}))"
    tot = f"(rest + {e_fe} + {e_fe3})"
    e = _e_terms()
    cats = {c: f"({e[c]} / {tot})" for c in e if c != "Fe"}
    cats["Fe"] = f"({e_fe} / {tot})"
    cats["Fe3"] = f"({e_fe3} / {tot})"
    return cats


def _g_oneill(x: str) -> str:
    """O'Neill (2006) eq. 10 map g(x) (``models.fe3fe2.oneill2006_np``)."""
    c = _split_cats(x)
    part1 = (
        f"((-28144.0 + 3905.0 * {c['Mg']} - 13359.0 * {c['Ca']}"
        f" - 14858.0 * {c['Na']} - 9805.0 * {c['K']}"
        f" + 10906.0 * {c['Al']} + 110971.0 * {c['P']}"
        f" - 11952.0 * ({c['Fe']} - {c['Fe3']})) / t)"
    )
    return f"POW(10.0, ((lg_fo2 - {part1} - part2_on) / 4.0))"


def _g_armstrong(x: str) -> str:
    """Armstrong et al. (2019) eq. S12 map
    (``models.fe3fe2.armstrong2019_np``)."""
    c = _split_cats(x)
    sum_marg = (
        f"(-2248.0 * {c['Mg']} + 7690.0 * {c['Ca']} + 8553.0 * {c['Na']}"
        f" + 5644.0 * {c['K']} + (-6278.0) * {c['Al']})"
    )
    act = (
        f"({sum_marg} / t + 6880.0 * (({c['Fe']} - {c['Fe3']}) / t))"
    )
    return f"EXP(lnfo2 / 4.0 - gib_dv / ({R!r} * t) + {act})"


def _armstrong_vdp_sql(phase: str) -> str:
    """Armstrong Vinet-like VdP with python-precomputed a/b/c constants
    (``models.fe3fe2._armstrong_VdP_np``)."""
    K0, Kp = {"Fe2": (37.0, 8.0), "Fe3": (12.6, 1.3)}[phase]
    Kpp = -Kp / K0
    a = (1 + Kp) / (1 + Kp + K0 * Kpp)
    b = Kp / K0 - Kpp / (1 + Kp)
    c = (1 + Kp + K0 * Kpp) / (Kp**2 + Kp - K0 * Kpp)
    v0 = (
        "(13650.0 + 2.92 * (t - 1673.0))"
        if phase == "Fe2"
        else "(21070.0 + 4.54 * (t - 1673.0))"
    )
    p = "(P_bar / 1e4)"
    part1 = f"({a!r} * (1.0 - POW(1.0 + {b!r} * {p}, {1.0 - c!r})))"
    part2 = f"({b!r} * {c - 1.0!r} * {p})"
    return f"({p} * {v0} * (1.0 - {a!r} + {part1} / {part2}))"


def sql_fe3fe2_solvers2(melt_cte: str) -> str:
    mu = (
        "(-587474.0 + 1584.427 * t - 203.3164 * t * LN(t)"
        " + 0.092710 * t * t)"
    )
    fo2 = f"(EXP({mu} / ({R!r} * t)) * POW(10.0, 0.0))"
    part2_on = (
        "(13.95 + (33122.0 / t - 5.24)"
        " * (POW(1.0 + 0.241 * (P_bar / 1e4), 0.75) - 1.0)"
        " - (39156.0 / t - 6.17)"
        " * (POW(1.0 + 0.132 * (P_bar / 1e4), 0.75) - 1.0))"
    )
    gibbs0 = f"(-(16201.0 / t - 8.031) * ({R!r} * t))"
    dvdp = f"({_armstrong_vdp_sql('Fe3')} - {_armstrong_vdp_sql('Fe2')})"

    cat_cols = ["m_MgO", "m_CaO", "m_Na2O", "m_K2O", "m_Al2O3", "m_P2O5"]
    on_consts = ["uid", "t", "m_FeO", "rest", "lg_fo2", "part2_on"] + cat_cols
    ar_consts = ["uid", "t", "m_FeO", "rest", "lnfo2", "gib_dv"] + cat_cols
    h_on = lambda x: f"({_g_oneill(x)} - {x})"
    h_ar = lambda x: f"({_g_armstrong(x)} - {x})"

    return f"""
WITH RECURSIVE {melt_cte},
sub AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY SiO2, Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, H2O, CO2, P_bar) AS uid FROM melt WHERE name % 64 = 0),
mf AS (
  SELECT name, uid, P_bar, {T_EXPR} AS t,
    {_mol_cols()}
  FROM sub
),
cn AS (
  SELECT *,
    {_rest_expr()} AS rest,
    LOG10({fo2}) AS lg_fo2,
    LN({fo2}) AS lnfo2,
    {part2_on} AS part2_on,
    ({gibbs0} + {dvdp}) AS gib_dv
  FROM mf
),
{_bisect_cte('bo', 'cn', on_consts, h_on, '1e-8', '100.0', 80)},
{_bisect_cte('ba', 'cn', ar_consts, h_ar, '1e-8', '100.0', 80)}
SELECT bo.name AS name,
  ROUND(0.5 * (bo.lo + bo.hi), 4) AS fe3fe2_oneill06,
  ROUND(0.5 * (ba.lo + ba.hi), 4) AS fe3fe2_armstrong
FROM {_final('bo', 80)} bo
JOIN {_final('ba', 80)} ba USING (name, uid)
ORDER BY name
"""


# ----------------------------------------------------------------------
# Kd fixed points: toplis2005, blundy2020, saper2022
# ----------------------------------------------------------------------

def _fixed_point_cte(name: str, base: str, consts: list[str], kd_of) -> str:
    """Recursive-CTE mirror of the per-row-frozen
    ``models.kd.iterate_kd_np``: fo₀ = 0.85,
    foₖ₊₁ = 1/(1+kd(foₖ)·fe2mg), stop at |Δfo|/fo ≤ 1e-3 or 100 steps;
    the kd of the last update is the answer."""
    cols = ", ".join(consts)
    return f"""
{name} AS (
  SELECT name, {cols}, 0 AS it, CAST(0.85 AS DOUBLE) AS fo,
         kd, 1.0 / (1.0 + kd * fe2mg) AS fo_eq
  FROM (SELECT *, ({kd_of('0.85')}) AS kd FROM {base})
  UNION ALL
  SELECT name, {cols}, it + 1, fo_eq AS fo, kd_new AS kd,
         1.0 / (1.0 + kd_new * fe2mg) AS fo_eq
  FROM (
    SELECT *, ({kd_of('fo_eq')}) AS kd_new
    FROM {name}
    WHERE it < 100 AND ABS(fo - fo_eq) / fo > 0.001
  )
)"""


def _fp_final(name: str) -> str:
    """Last emitted iteration per row = converged state."""
    return (
        f"(SELECT * FROM (SELECT *, ROW_NUMBER() OVER"
        f" (PARTITION BY name, uid ORDER BY it DESC) AS rn FROM {name})"
        f" WHERE rn = 1)"
    )


def _kd_toplis(x: str) -> str:
    """toplis2005 (``models.kd.toplis2005_kd_np``); sio2_a and T are per-row
    constants, fo enters through the olivine term."""
    return (
        f"EXP((-6766.0 / ({R!r} * t) - 7.34 / {R!r})"
        f" + LN(0.036 * sio2a - 0.22)"
        f" + (3000.0 * (1.0 - 2.0 * {x}) / ({R!r} * t))"
        f" + (0.035 * (P_bar - 1.0) / ({R!r} * t)))"
    )


def _sio2a_expr() -> str:
    """Adjusted molar SiO2 (``models.kd._toplis_SiO2A_np``) from mole-fraction
    columns (×100 to mol %)."""
    si = "(m_SiO2 * 100.0)"
    na = "(m_Na2O * 100.0)"
    k = "(m_K2O * 100.0)"
    phi_low = (
        f"((0.46 * (100.0 / (100.0 - {si})) - 0.93) * ({na} + {k})"
        f" + (-5.33 * (100.0 / (100.0 - {si})) + 9.69))"
    )
    phi_high = (
        f"((11.0 - 5.5 * (100.0 / (100.0 - {si})))"
        f" * EXP(-0.31 * ({na} + {k})))"
    )
    phi = f"(CASE WHEN {si} > 60.0 THEN {phi_high} ELSE {phi_low} END)"
    return f"(({si} + {phi} * ({na} + {k})) + 0.8 * m_H2O * 100.0)"


def sql_kd_toplis(melt_cte: str) -> str:
    fe2mg = "((m_FeO * (1.0 / (1.0 + 0.2))) / m_MgO)"
    consts = ["uid", "t", "P_bar", "sio2a", "fe2mg"]
    return f"""
WITH RECURSIVE {melt_cte},
sub AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY SiO2, Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, H2O, CO2, P_bar) AS uid FROM melt WHERE name % 64 = 0),
mf AS (
  SELECT name, uid, P_bar, CAST(1500.0 AS DOUBLE) AS t,
    {_mol_cols()}
  FROM sub
),
cn AS (
  SELECT name, uid, P_bar, t, {_sio2a_expr()} AS sio2a, {fe2mg} AS fe2mg
  FROM mf
),
{_fixed_point_cte('kt', 'cn', consts, _kd_toplis)}
SELECT name, ROUND(kd, 6) AS Kd
FROM {_fp_final('kt')}
ORDER BY name
"""


def _borisov_expr() -> str:
    """borisov2018 from mole-fraction columns + 1-bar QFM at dfO2=+1
    (``models.fe3fe2.fe3fe2_borisov2018``); constant per row at T = 1500 K."""
    t15 = "CAST(1500.0 AS DOUBLE)"
    mu_1500 = (
        f"(-587474.0 + 1584.427 * {t15}"
        f" - 203.3164 * {t15} * LN({t15})"
        f" + 0.092710 * {t15} * {t15})"
    )
    fo2 = f"(EXP({mu_1500} / ({R!r} * {t15})) * POW(10.0, 1.0))"
    return (
        f"POW(10.0, 0.207 * LOG10({fo2}) + 4633.3 / {t15}"
        f" - 0.445 * m_SiO2 - 0.900 * m_TiO2 + 1.532 * m_MgO"
        f" + 0.314 * m_CaO + 2.030 * m_Na2O + 3.355 * m_K2O"
        f" - 4.851 * m_P2O5"
        f" - 3.081 * m_SiO2 * m_Al2O3 - 4.370 * m_SiO2 * m_MgO - 1.852)"
    )


def _kd_blundy(x: str) -> str:
    """blundy2020 (``models.kd.blundy2020_kd_np``);
    f3t = borisov/(1+borisov)."""
    return (
        f"((0.3642 * (1.0 - f3t)"
        f" * EXP((312.7 * (1.0 - 2.0 * {x})) / t)) / (1.0 - f3t))"
    )


def _kd_saper(x: str) -> str:
    """saper2022 (``models.kd.saper2022_kd_np``); gibbs+melt terms constant."""
    return f"EXP(gm + 3040.0 * (1.0 - 2.0 * {x}) / ({R!r} * t))"


def sql_kd_blundy_saper(melt_cte: str) -> str:
    e = _e_terms()
    cat_tot = "(" + " + ".join(
        f"(m_{s} * {float(cation_amount(s))!r})" for s in MELT_SPECIES
    ) + ")"
    cats = {c: f"({e[c]} / {cat_tot})" for c in ("Si", "Ti", "Na", "K")}
    gibbs = f"((-6766.0 - 7.34 * t) / ({R!r} * t))"
    melt_term = (
        f"(1.0445 * {cats['Si']} - 1.3125 * {cats['Ti']}"
        f" - 3.0550 * {cats['Si']} * ({cats['Na']} + {cats['K']}))"
    )
    f3t = "(bor / (1.0 + bor))"
    fe2mg_b = "((m_FeO * (1.0 / (1.0 + bor))) / m_MgO)"
    fe2mg_s = "((m_FeO * (1.0 / (1.0 + 0.2))) / m_MgO)"
    return f"""
WITH RECURSIVE {melt_cte},
sub AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY SiO2, Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, H2O, CO2, P_bar) AS uid FROM melt WHERE name % 64 = 0),
mf AS (
  SELECT name, uid, P_bar, CAST(1500.0 AS DOUBLE) AS t,
    {_mol_cols()}
  FROM sub
),
cb AS (
  SELECT name, uid, P_bar, t, {f3t} AS f3t, {fe2mg_b} AS fe2mg
  FROM (SELECT *, {_borisov_expr()} AS bor FROM mf)
),
cs AS (
  SELECT name, uid, P_bar, t, ({gibbs} + {melt_term}) AS gm,
         {fe2mg_s} AS fe2mg
  FROM mf
),
{_fixed_point_cte('kb', 'cb', ['uid', 't', 'f3t', 'fe2mg'], _kd_blundy)},
{_fixed_point_cte('ks', 'cs', ['uid', 't', 'gm', 'fe2mg'], _kd_saper)}
SELECT kb.name AS name,
  ROUND(kb.kd, 6) AS kd_blundy,
  ROUND(ks.kd, 6) AS kd_saper
FROM {_fp_final('kb')} kb
JOIN {_fp_final('ks')} ks USING (name, uid)
ORDER BY name
"""


# ----------------------------------------------------------------------
# Iacono-Marziano mixed saturation
# ----------------------------------------------------------------------

# hydrous_webapp + hydrous-CO2 coefficient sets
# (``models.volatiles.H2O_COEFFS``, ``models.volatiles.CO2_COEFFS``)
IM_H2O = dict(a=0.52096846, b=2.11575907, B=-3.24443335, C=-0.02238884)
IM_CO2 = dict(d_H2O=-16.4, d_AI=4.4, d_FM=-17.1, d_NK=22.8, a=1.0,
              b=17.3, B=-6.0, C=0.12)


def _im_consts(h2o_expr: str) -> dict[str, str]:
    """Per-row constants of the saturation residual at observed
    volatiles: mole fractions at dissolved-H2O = ``h2o_expr``
    (``models.volatiles._mol_fractions``, ``models.volatiles._nbo_o``,
    ``models.volatiles._ln_p_h2o_prefix``,
    ``models.volatiles._ln_p_co2_prefix``).

    Mole terms m*_s = wt_s/W_s are NOT renormalised — every use below is
    scale-invariant (NBO/O, x_AI are ratios) or explicitly divided by
    the total."""
    m = {s: f"({s} / {W(s)!r})" for s in MELT_SPECIES if s != "H2O"}
    m["H2O"] = f"({h2o_expr} / {W('H2O')!r})"
    tot = "(" + " + ".join(m[s] for s in MELT_SPECIES) + ")"
    nbo = (
        f"(2.0 * ({m['K2O']} + {m['Na2O']} + {m['CaO']} + {m['MgO']}"
        f" + {m['FeO']} - {m['Al2O3']}) + 2.0 * {m['H2O']})"
    )
    o = (
        f"(2.0 * {m['SiO2']} + 2.0 * {m['TiO2']} + 3.0 * {m['Al2O3']}"
        f" + {m['MgO']} + {m['FeO']} + {m['CaO']} + {m['Na2O']}"
        f" + {m['K2O']} + {m['H2O']})"
    )
    return dict(
        nbo_o=f"({nbo} / {o})",
        x_ai=f"({m['Al2O3']} / ({m['CaO']} + {m['K2O']} + {m['Na2O']}))",
        x_fm=f"(({m['FeO']} + {m['MgO']}) / {tot})",
        x_nk=f"(({m['Na2O']} + {m['K2O']}) / {tot})",
        h2o_mol=f"({m['H2O']} / {tot})",
    )


def sql_volatile_saturation_im(melt_cte: str) -> str:
    """Mixed IM saturation over the full melt table
    (``models.volatiles.mixed_saturation_np``): rows with observed H2O>0 solve
    exp(ln P_H2O(P)) + exp(ln P_CO2(P)) = P; H2O=0 rows take the
    pure-CO2 pressure with zero-H2O melt chemistry and Xfl=0. CO2 is
    always >0 in the synthetic melt so the pure-H2O branch never fires.

    ln P_H2O(P) = (a1 − C_h·P/T)/a_h with a1 = ln w − b·NBO/O − B —
    only the C·P/T term depends on P, so the residual is a closed-form
    two-exponential function of P."""
    h = IM_H2O
    c = IM_CO2
    w = _im_consts("H2O")       # at observed (safe) H2O
    z = _im_consts("0.0")       # at dissolved H2O = 0 (pure-CO2 branch)
    a1 = (
        f"(LN(H2O) - {h['b']!r} * {w['nbo_o']} - {h['B']!r})"
    )
    a2w = (
        f"(LN(CO2 * 1e4) - {w['h2o_mol']} * {c['d_H2O']!r}"
        f" - {w['x_ai']} * {c['d_AI']!r} - {w['x_fm']} * {c['d_FM']!r}"
        f" - {w['x_nk']} * {c['d_NK']!r} - {c['b']!r} * {w['nbo_o']}"
        f" - {c['B']!r})"
    )
    a2z = (
        f"(LN(CO2 * 1e4) - {z['h2o_mol']} * {c['d_H2O']!r}"
        f" - {z['x_ai']} * {c['d_AI']!r} - {z['x_fm']} * {c['d_FM']!r}"
        f" - {z['x_nk']} * {c['d_NK']!r} - {c['b']!r} * {z['nbo_o']}"
        f" - {c['B']!r})"
    )
    ln_ph2o = lambda x: f"((a1 - {h['C']!r} * {x} / t) / {h['a']!r})"
    ln_pco2 = lambda x: f"((a2 - {c['C']!r} * {x} / t) / {c['a']!r})"
    res = lambda x: (
        f"((CASE WHEN has_h2o THEN EXP({ln_ph2o(x)}) ELSE 0.0 END)"
        f" + EXP({ln_pco2(x)}) - {x})"
    )
    consts = ["has_h2o", "t", "a1", "a2"]
    return f"""
WITH RECURSIVE {melt_cte},
cn AS (
  SELECT name, has_h2o, t,
    {a1} AS a1,
    CASE WHEN has_h2o THEN {a2w} ELSE {a2z} END AS a2
  FROM (SELECT name, H2O > 0.0 AS has_h2o,
               CASE WHEN H2O > 0.0 THEN H2O ELSE 1.0 END AS H2O,
               CO2, SiO2, Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, MnO,
               P2O5, CAST(1473.15 AS DOUBLE) AS t
        FROM melt)
),
{_bisect_cte('vb', 'cn', consts, res,
             "CASE WHEN has_h2o THEN 1e-2 ELSE 1e-10 END", '1e5', 60)}
SELECT name,
  ROUND(0.5 * (lo + hi), 4) AS P_bar_sat,
  ROUND(CASE WHEN has_h2o THEN
          LEAST(1.0, GREATEST(0.0,
            EXP((a1 - {h['C']!r} * (0.5 * (lo + hi)) / t) / {h['a']!r})
            / (0.5 * (lo + hi))))
        ELSE 0.0 END, 6) AS Xfl
FROM {_final('vb', 60)}
ORDER BY name
"""

# ----------------------------------------------------------------------
# isobar/isopleth solubility grid (first sample)
# ----------------------------------------------------------------------

def sql_isobar_grid(melt_cte: str) -> str:
    """IM solubility grid for the first sample
    (``models.volatiles.co2_h2o_isobars``): hydrous dissolved-H2O inner
    bisection (60 steps in v ∈ [0, 60] wt.%) per grid point, then the
    closed-form CO2 equation at the solved H2O. The grid literals are
    generated with the same numpy arithmetic as ``co2_h2o_isobars``."""
    import numpy as np

    h = IM_H2O
    c = IM_CO2
    isobars = list(np.arange(1e3, 7e3, 1e3))
    isopleths = [round(v, 6) for v in np.arange(0.0, 1.1, 0.1)]
    n_points = 8
    xfl = [round(v, 6) for v in np.arange(0.0, 1.0 + 1.0 / n_points,
                                          1.0 / n_points)]
    p_steps = [round(max(isobars) * i / n_points, 6)
               for i in range(n_points + 1)]
    import itertools
    rows = [
        (float(P), float(x), "isobar")
        for P, x in itertools.product(isobars, xfl)
    ] + [
        (float(P), float(x), "isopleth")
        for x, P in itertools.product(isopleths, p_steps)
    ]
    values = ",\n    ".join(
        f"(CAST({p!r} AS DOUBLE), CAST({x!r} AS DOUBLE), '{k}')"
        for p, x, k in rows
    )

    wh2o = W("H2O")
    m = {s: f"({s} / {W(s)!r})" for s in MELT_SPECIES if s != "H2O"}
    s_sum = "(" + " + ".join(m[s] for s in MELT_SPECIES if s != "H2O") + ")"
    n0 = (
        f"(2.0 * ({m['K2O']} + {m['Na2O']} + {m['CaO']} + {m['MgO']}"
        f" + {m['FeO']} - {m['Al2O3']}))"
    )
    d0 = (
        f"(2.0 * {m['SiO2']} + 2.0 * {m['TiO2']} + 3.0 * {m['Al2O3']}"
        f" + {m['MgO']} + {m['FeO']} + {m['CaO']} + {m['Na2O']}"
        f" + {m['K2O']})"
    )
    x_ai = f"({m['Al2O3']} / ({m['CaO']} + {m['K2O']} + {m['Na2O']}))"
    mfemg = f"({m['FeO']} + {m['MgO']})"
    mnak = f"({m['Na2O']} + {m['K2O']})"

    # residual of the hydrous H2O solubility solve: v − exp(a·ln P_H2O
    # + b·NBO/O(v) + B + C·P/T)   (``models.volatiles.h2o_solubility_np``)
    def res(x):
        hm = f"({x} / {wh2o!r})"
        nbo = f"((n0 + 2.0 * {hm}) / (d0 + {hm}))"
        return (
            f"({x} - EXP({h['a']!r} * LN(ph2o_safe) + {h['b']!r} * {nbo}"
            f" + ({h['B']!r}) + ({h['C']!r}) * gp / t))"
        )

    consts = ["gp", "gx", "kind", "t", "n0", "d0", "ph2o_safe",
              "valid_h", "valid_c", "pco2_safe", "x_ai", "s_sum",
              "mfemg", "mnak"]
    hm = f"(h2o_sol / {wh2o!r})"
    nbo_c = f"((n0 + 2.0 * {hm}) / (d0 + {hm}))"
    co3 = (
        f"EXP(({hm} / (s_sum + {hm})) * ({c['d_H2O']!r})"
        f" + x_ai * {c['d_AI']!r}"
        f" + (mfemg / (s_sum + {hm})) * ({c['d_FM']!r})"
        f" + (mnak / (s_sum + {hm})) * {c['d_NK']!r}"
        f" + {c['a']!r} * LN(pco2_safe) + {c['b']!r} * {nbo_c}"
        f" + ({c['B']!r}) + {c['C']!r} * gp / t)"
    )
    return f"""
WITH RECURSIVE {melt_cte},
samp AS (SELECT * FROM melt ORDER BY name LIMIT 1),
grid AS (
  SELECT * FROM (VALUES
    {values}
  ) g(gp, gx, kind)
),
gb AS (
  SELECT samp.name AS name, gp, gx, kind,
    CAST(1473.15 AS DOUBLE) AS t,
    {n0} AS n0, {d0} AS d0,
    (gp > 0.0 AND gx > 0.0) AS valid_h,
    CASE WHEN gp > 0.0 AND gx > 0.0 THEN gx * gp ELSE 1.0 END
      AS ph2o_safe,
    (gp > 0.0 AND (1.0 - gx) > 0.0) AS valid_c,
    CASE WHEN gp > 0.0 AND (1.0 - gx) > 0.0 THEN (1.0 - gx) * gp
         ELSE 1.0 END AS pco2_safe,
    {x_ai} AS x_ai, {s_sum} AS s_sum, {mfemg} AS mfemg, {mnak} AS mnak
  FROM grid CROSS JOIN samp
),
{_bisect_cte('hb', 'gb', consts, res, '0.0', '60.0', 60)},
fin AS (
  SELECT *, CASE WHEN valid_h THEN 0.5 * (lo + hi) ELSE 0.0 END
           AS h2o_sol
  FROM {_final('hb', 60)}
)
SELECT (SELECT name FROM samp) AS name,
  gp AS P_bar, gx AS x_fluid, kind,
  ROUND(h2o_sol, 6) AS H2O_sol,
  ROUND(CASE WHEN valid_c THEN {co3} / 1e4 ELSE 0.0 END, 6) AS CO2_sol
FROM fin
ORDER BY kind, P_bar, x_fluid
"""

# ----------------------------------------------------------------------
# Allison (2022) mixed-fluid saturation: MRK fugacity + nested bisection
# ----------------------------------------------------------------------

_TH = 1.0 / 3.0
_ALLISON_T = 1473.15
_ALLISON_FW = 36.594


def _allison_consts() -> dict:
    """Python-side constants of the Allison kernels at the gate's fixed
    T = 1473.15 K. The MRK temperature terms (``models.allison._rk_prefix``)
    and the boundary fugacities are evaluated with the ENGINE'S OWN numpy
    kernels, so the literals embedded in the SQL are bit-identical to
    what every Spark task computes."""
    import numpy as np

    from magmapandas_spark.models import allison as al

    T = _ALLISON_T
    Rg = 82.05736
    RXT = Rg * T
    RT = Rg * T**1.5 * 1e-6
    T_C = T - 273.15
    am_co2 = 73.03 - 0.0714 * T_C + 2.157e-05 * T_C**2
    am_h2o = 115.98 - 0.0016295 * T - 1.4984e-05 * T**2
    a2b_co2 = am_co2 / (29.7 * RT)
    a2b_h2o = am_h2o / (14.5 * RT)
    a2b_co2 = 0.001 if a2b_co2 < 1e-10 else a2b_co2
    a2b_h2o = 0.001 if a2b_h2o < 1e-10 else a2b_h2o
    TR = T / 304.2
    PC = 73.9
    sxA = 2.0614 - 2.2351 / TR**2 - 0.39411 * np.log(TR)
    sxB = (0.055125 / TR + 0.039344 / TR**2) / PC
    sxC = (-1.8935e-06 / TR - 1.1092e-05 / TR**2 - 2.1892e-05 / TR**3) / (
        2 * PC**2
    )
    sxD = (5.0527e-11 / TR - 6.3033e-21 / TR**3) / (3 * PC**3)
    return dict(
        RXT=RXT,
        a2b_co2=float(a2b_co2),
        a2b_h2o=float(a2b_h2o),
        sxA=float(sxA),
        sxB=float(sxB),
        sxC=float(sxC),
        sxD=float(sxD),
        rk4000=float(
            al._rkcalc(np.array([T]), np.array([4000.0]), "CO2")[0]
        ),
        fug_co2_lo=float(al.hb_fugacity_np(T, 1e-10, "CO2")[0]),
        fug_h2o_lo=float(al.hb_fugacity_np(T, 1e-10, "H2O")[0]),
        fug_co2_10=float(al.hb_fugacity_np(T, 10.0, "CO2")[0]),
        fug_h2o_10=float(al.hb_fugacity_np(T, 10.0, "H2O")[0]),
        RaT=(R * 10.0) * T,
    )


def _nest(base: str, stages: list[list[tuple[str, str]]]) -> str:
    """Chain of SELECT * + computed columns — the SQL mirror of numpy's
    sequential intermediate arrays, keeping every subexpression evaluated
    exactly once (and the generated text linear in kernel size)."""
    sql = base
    for st in stages:
        cols = ", ".join(f"({e}) AS {n}" for n, e in st)
        sql = f"SELECT *, {cols} FROM ({sql})"
    return sql


def _fug_stages(pcol: str, species: str, s: str, C: dict):
    """Stages computing ``fug_<s>`` = Holloway&Blank fugacity of
    ``species`` at probe column ``pcol`` (``models.allison.hb_fugacity_np``),
    with every operation in numpy's evaluation order."""
    a2b = C[f"a2b_{species}"]
    bsum = {"co2": 29.7, "h2o": 14.5}[species]
    st: list[list[tuple[str, str]]] = []
    st.append([(f"ps_{s}", f"GREATEST({pcol}, 1e-50)")])
    st.append(
        [(f"bp_{s}", f"(ps_{s} / 1.013 * {bsum!r} / {C['RXT']!r})")]
    )
    st.append([
        (f"rr_{s}", f"(-{a2b!r} * bp_{s} * bp_{s})"),
        (f"qq_{s}", f"(bp_{s} * ({a2b!r} - bp_{s} - 1.0))"),
    ])
    st.append([
        (f"xn_{s}", f"(qq_{s} * {_TH!r} + rr_{s} - 0.074074)"),
        (f"xm_{s}", f"(qq_{s} - {_TH!r})"),
    ])
    st.append([
        (f"xnn_{s}", f"(xn_{s} * xn_{s} / 4.0)"),
        (f"xmm_{s}", f"(xm_{s} * xm_{s} * xm_{s} / 27.0)"),
    ])
    st.append([(f"arg_{s}", f"(xnn_{s} + xmm_{s})")])
    cp0 = f"SQRT(GREATEST(-xnn_{s} / xmm_{s}, 0.0))"
    st.append([
        (f"cp_{s}",
         f"(CASE WHEN xn_{s} > 0.0 THEN -{cp0} ELSE {cp0} END)"),
    ])
    st.append([
        (f"phi_{s}",
         f"(ATAN(SQRT(GREATEST(1.0 - cp_{s} * cp_{s}, 0.0)) / cp_{s})"
         f" * {_TH!r})"),
    ])
    st.append([
        (f"z_{s}",
         f"(CASE WHEN arg_{s} > 0.0 THEN"
         f" CBRT(-xn_{s} / 2.0 + SQRT(arg_{s}))"
         f" + CBRT(-xn_{s} / 2.0 - SQRT(arg_{s})) + {_TH!r}"
         f" WHEN arg_{s} < 0.0 THEN"
         f" GREATEST(COS(phi_{s}), COS(phi_{s} + 2.0944),"
         f" COS(phi_{s} + 4.18879))"
         f" * (2.0 * SQRT(-xm_{s} * {_TH!r})) + {_TH!r}"
         f" ELSE 1.0 END)"),
    ])
    st.append([
        (f"fp_{s}",
         f"(z_{s} - 1.0 - LN(GREATEST(z_{s} - bp_{s}, 1e-6))"
         f" - {a2b!r} * LN(1.0 + bp_{s} / z_{s}))"),
    ])
    st.append([
        (f"rk_{s}",
         f"((CASE WHEN arg_{s} = 0.0 THEN 1.0"
         f" WHEN fp_{s} < -37.0 OR fp_{s} > 37.0 THEN 1e-6"
         f" ELSE fp_{s} END) + LN(ps_{s}))"),
    ])
    if species == "co2":
        sax = (
            f"({C['sxA']!r} * LN(ps_{s} / 4000.0)"
            f" + {C['sxB']!r} * (ps_{s} - 4000.0)"
            f" + {C['sxC']!r} * (ps_{s} * ps_{s} - 16000000.0)"
            f" + {C['sxD']!r} * (ps_{s} * ps_{s} * ps_{s}"
            f" - 64000000000.0))"
        )
        fug = (
            f"(CASE WHEN ps_{s} > 4000.0 THEN"
            f" EXP({C['rk4000']!r} + {sax}) ELSE EXP(rk_{s}) END)"
        )
    else:
        fug = f"EXP(rk_{s})"
    st.append([(f"fug_{s}", fug)])
    return st


def _allison_cat_stages():
    """Stages computing dv / lnk0 from melt wt.% columns — the rounded
    cation fractions of ``models.allison._allison_cations``,
    ``models.allison._deltaV`` and ``models.allison._lnK0`` with python
    sum order (= left-associated SQL chains)."""
    oxides = ["SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O"]
    ncat = {"SiO2": 1.0, "TiO2": 1.0, "Al2O3": 2.0, "FeO": 1.0,
            "MgO": 1.0, "CaO": 1.0, "Na2O": 2.0, "K2O": 2.0}
    cn = {"SiO2": "Si", "TiO2": "Ti", "Al2O3": "Al", "FeO": "Fe",
          "MgO": "Mg", "CaO": "Ca", "Na2O": "Na", "K2O": "K"}
    mol = {s: f"({s} / {W(s)!r})" for s in oxides}
    tot = "(" + " + ".join(mol[s] for s in oxides) + ")"
    st: list[list[tuple[str, str]]] = []
    st.append([
        (f"e_{cn[s]}", f"(({mol[s]} / {tot}) * {ncat[s]!r})")
        for s in oxides
    ])
    st.append([
        ("et", "(" + " + ".join(f"e_{cn[s]}" for s in oxides) + ")")
    ])
    st.append([
        (f"c_{cn[s]}", f"ROUND(e_{cn[s]} / et, 3)") for s in oxides
    ])
    st.append([("nak", "(c_Na / (c_Na + c_K))")])
    st.append([
        ("dv",
         "(-3350.65 + 2625.385 * c_Ti + 3105.426 * c_Al"
         " + 47.0037 * nak + 3375.552 * (c_Si + c_Na)"
         " + 3795.115 * c_K + 3628.018 * c_Fe"
         " + 3323.32 * (c_Mg + c_Ca))"),
        ("lnk0",
         "(-128.365 + 122.644 * (c_Fe + c_Na + c_Ca)"
         " + 92.263 * (c_Ti + c_Al) + 114.098 * c_Si"
         " + 111.549 * c_Mg + 138.855 * c_K + 2.239 * nak)"),
    ])
    return st


def _staged_bisect(name, base, consts, species, flo_init, residual, C,
                   iters=48):
    """``eos.bisect_vectorized`` mirror with a staged fugacity
    evaluation per step; the sign of f(lo) is computed ONCE, as there
    (it never changes while the loop runs)."""
    cols = ", ".join(consts)
    inner = _nest(
        f"SELECT *, 0.5 * (lo + hi) AS pb FROM {name} WHERE it < {iters}",
        _fug_stages("pb", species, "x", C)
        + [[("fmid", residual(f"fug_x"))]],
    )
    return f"""
{name} AS (
  SELECT name, {cols}, 0 AS it,
         CAST(1e-10 AS DOUBLE) AS lo, CAST(15000.0 AS DOUBLE) AS hi,
         SIGN({flo_init}) AS sf
  FROM {base}
  UNION ALL
  SELECT name, {cols}, it + 1,
         CASE WHEN SIGN(fmid) = sf THEN pb ELSE lo END,
         CASE WHEN SIGN(fmid) = sf THEN hi ELSE pb END,
         sf
  FROM ({inner})
)"""


def sql_allison_saturation(melt_cte: str) -> str:
    """Allison (2022) mixed CO2-H2O saturation
    (``models.allison.allison_mixed_saturation_np``): pure-species
    pressures via staged 48-step bisections, then the nested solve — an
    outer bisection in P whose residual contains an inner
    fugacity-inversion bisection — flattened into ONE recursive state
    machine (49 micro-steps per outer round: 48 inner halvings + a
    finalize that updates the outer bracket and seeds the next inner
    solve)."""
    C = _allison_consts()
    FW = _ALLISON_FW
    RaT = C["RaT"]
    r44 = 1.0 / 44.01

    ksol = (
        lambda p: f"(EXP(lnk0) * EXP(-dv * ({p} - 1000.0) / {RaT!r}))"
    )
    # pure-CO2 saturation residual
    # (``models.allison.allison_co2_saturation_np``)
    res_c = lambda fug: f"(kfr / {fug} - {ksol('pb')})"
    # pure-H2O saturation residual
    # (``models.allison.allison_h2o_saturation_np``)
    res_h = lambda fug: f"(fh2o_pure - {fug})"
    flo_c = (
        f"(kfr / {C['fug_co2_lo']!r} - {ksol('1e-10')})"
    )
    flo_h = f"(fh2o_pure - {C['fug_h2o_lo']!r})"

    # ---- mixed state machine ----
    # finalize-phase solubility at inner root (= imid) and carried fc
    co2s = (
        f"(CASE WHEN xc >= 1.0 THEN 0.0 ELSE"
        f" 44.01 * xco3 / (44.01 * xco3 + (1.0 - xco3) * {FW!r}) * 100.0"
        f" END)"
    )
    step_stages = [
        [("imid", "0.5 * (ilo + ihi)"), ("inn", "(iit < 48)")],
        [("kf2", f"({ksol('imid')} * fc)")],
        [("xco3", "(kf2 / (1.0 - kf2))")],
        [("fres", f"({co2s} - c_safe)")],
        [
            ("osf2",
             "(CASE WHEN inn THEN osf WHEN oit = -1 THEN SIGN(fres)"
             " ELSE osf END)"),
            ("olo2",
             "(CASE WHEN inn OR oit = -1 THEN olo"
             " WHEN SIGN(fres) = osf THEN mid ELSE olo END)"),
            ("ohi2",
             "(CASE WHEN inn OR oit = -1 THEN ohi"
             " WHEN SIGN(fres) = osf THEN ohi ELSE mid END)"),
        ],
        [("mid2", "(CASE WHEN inn THEN mid ELSE 0.5 * (olo2 + ohi2) END)")],
        [
            ("pc_in", "(CASE WHEN inn THEN imid ELSE mid2 END)"),
            ("ph_in", "(CASE WHEN inn THEN 1.0 ELSE mid2 END)"),
        ],
    ]
    step_stages += _fug_stages("pc_in", "co2", "c", C)
    step_stages += _fug_stages("ph_in", "h2o", "h", C)
    step_stages += [
        [("xnew",
          "(CASE WHEN inn THEN xc"
          " ELSE LEAST(1.0, GREATEST(0.0, tgt / fug_h)) END)")],
        [("fcnew",
          "(CASE WHEN inn THEN fc ELSE fug_c * (1.0 - xnew) END)")],
    ]
    mixed_inner = _nest("SELECT * FROM mx WHERE oit < 48", step_stages)
    consts = "uid, dv, lnk0, c_safe, tgt"
    mixed = f"""
mx AS (
  SELECT name, {consts}, -1 AS oit, 0 AS iit,
         CAST(10.0 AS DOUBLE) AS olo, CAST(15000.0 AS DOUBLE) AS ohi,
         CAST(NULL AS DOUBLE) AS osf,
         CAST(10.0 AS DOUBLE) AS mid,
         x0 AS xc, {C['fug_co2_10']!r} * (1.0 - x0) AS fc,
         CAST(1e-10 AS DOUBLE) AS ilo, CAST(15000.0 AS DOUBLE) AS ihi,
         SIGN({C['fug_co2_10']!r} * (1.0 - x0) - {C['fug_co2_lo']!r})
           AS isf
  FROM (SELECT *,
          LEAST(1.0, GREATEST(0.0, tgt / {C['fug_h2o_10']!r})) AS x0
        FROM cn)
  UNION ALL
  SELECT name, {consts},
         CASE WHEN inn THEN oit ELSE oit + 1 END,
         CASE WHEN inn THEN iit + 1 ELSE 0 END,
         olo2, ohi2, osf2, mid2, xnew, fcnew,
         CASE WHEN inn THEN
           (CASE WHEN SIGN(fc - fug_c) = isf THEN imid ELSE ilo END)
           ELSE CAST(1e-10 AS DOUBLE) END,
         CASE WHEN inn THEN
           (CASE WHEN SIGN(fc - fug_c) = isf THEN ihi ELSE imid END)
           ELSE CAST(15000.0 AS DOUBLE) END,
         CASE WHEN inn THEN isf
           ELSE SIGN(fcnew - {C['fug_co2_lo']!r}) END
  FROM ({mixed_inner})
)"""

    base = _nest(
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY SiO2,"
        " Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, H2O, CO2, P_bar) AS uid"
        " FROM melt WHERE name % 64 = 0",
        _allison_cat_stages()
        + [[
            ("c_safe", "(CASE WHEN CO2 > 0.0 THEN CO2 ELSE 1e-6 END)"),
            ("h_safe", "(CASE WHEN H2O > 0.0 THEN H2O ELSE 1e-6 END)"),
        ]]
        + [[
            ("xco3s",
             f"((c_safe * {r44!r})"
             f" / ({100.0 / FW!r} - (c_safe / {FW!r})))"),
            ("fh2o_pure", "(104.98 * POW(H2O, 1.83) / 1.0)"),
            ("tgt", "(104.98 * POW(h_safe, 1.83))"),
        ]]
        + [[("kfr", "(xco3s / (1.0 + xco3s))")]],
    )
    return f"""
WITH RECURSIVE {melt_cte},
cn AS ({base}),
{_staged_bisect('bh', 'cn', ['uid', 'H2O', 'CO2', 'fh2o_pure'], 'h2o',
                flo_h, res_h, C)},
{_staged_bisect('bc', 'cn', ['uid', 'kfr', 'dv', 'lnk0'], 'co2', flo_c,
                res_c, C)},
{mixed}
SELECT mx.name AS name,
  ROUND(CASE WHEN mx.co2_obs <= 0.0 THEN ph
             WHEN mx.h2o_obs <= 0.0 THEN pc
             WHEN mx.xc <= 0.0 THEN pc
             WHEN mx.xc >= 1.0 THEN ph
             ELSE mx.mid END, 4) AS P_bar_sat,
  ROUND(CASE WHEN mx.co2_obs <= 0.0 THEN 1.0
             WHEN mx.h2o_obs <= 0.0 THEN 0.0
             ELSE mx.xc END, 6) AS Xfl
FROM (
  SELECT m.*, c.H2O AS h2o_obs, c.CO2 AS co2_obs
  FROM mx m JOIN cn c USING (name, uid) WHERE m.oit = 48
) mx
JOIN (SELECT name, uid,
        CASE WHEN H2O <= 0.0 THEN 0.0 ELSE 0.5 * (lo + hi) END AS ph
      FROM bh WHERE it = 48) bh USING (name, uid)
JOIN (SELECT name, uid, 0.5 * (lo + hi) AS pc
      FROM bc WHERE it = 48) bc USING (name, uid)
ORDER BY name
"""


# ----------------------------------------------------------------------
# Monte-Carlo thermometer (md5 counter RNG — engine-portable draws)
# ----------------------------------------------------------------------

_TWO48 = 281474976710656.0
_TWO_PI = 6.283185307179586
MC_ERRORS = {"SiO2": 0.3, "MgO": 0.1, "FeO": 0.15}
MC_SEED = 7
MC_ITERS = 64


def _sql_hash_gauss(key: str, tag: str) -> str:
    """DuckDB twin of ``core.geoframe._hash_gauss``: md5 of
    ``key || ':tag:a' / ':b'`` → top-48-bit uniforms → Box-Muller."""
    def u(suffix: str) -> str:
        return (
            f"CAST(CAST('0x' || substring(md5({key} || ':{tag}:{suffix}'),"
            f" 1, 12) AS BIGINT) AS DOUBLE)"
        )

    u1 = f"(({u('a')} + 1.0) / {_TWO48!r})"
    u2 = f"({u('b')} / {_TWO48!r})"
    return f"(SQRT(-2.0 * LN({u1})) * COS({_TWO_PI!r} * {u2}))"


def sql_mc_thermometer(melt_cte: str) -> str:
    """MC putirka2008_15: 64 replicates with md5-keyed Gaussian
    perturbation of SiO2/MgO/FeO (clip 0), thermometer closed form,
    mean / sample-stddev / exact median per name."""
    key = "(CAST(name AS VARCHAR) || ':' || CAST(mc_iter AS VARCHAR))"
    pert_cols = []
    for s in MELT_SPECIES:
        if s in MC_ERRORS:
            z = _sql_hash_gauss(key, f"{s}:{MC_SEED}")
            pert_cols.append(
                f"GREATEST(0.0, {s} + {z} * {MC_ERRORS[s]!r}) AS {s}"
            )
        else:
            pert_cols.append(s)
    pert_list = ",\n    ".join(pert_cols)

    # putirka2008_15 closed form over the perturbed columns — the same
    # construction as the (oracle-green) thermometer_putirka2008_15 SQL
    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    terms = [f"({s} / {W(s)!r})" for s in anhyd]
    total = " + ".join(terms)
    frac = {s: f"(({s} / {W(s)!r}) / ({total}))" for s in anhyd}
    mg_no = f"({frac['MgO']} / ({frac['MgO']} + {frac['FeO']}))"
    t_k = (
        f"815.3 + 265.5 * {mg_no} + 15.37 * MgO + 8.61 * FeO"
        f" + 6.646 * (Na2O + K2O) + 39.16 * (P_bar / 10000.0)"
        f" - 12.83 * H2O + 273.15"
    )
    return f"""
WITH {melt_cte},
sub AS (SELECT * FROM melt WHERE name % 256 = 0),
rep AS (SELECT sub.*, r.mc_iter FROM sub CROSS JOIN range({MC_ITERS}) r(mc_iter)),
pert AS (
  SELECT name, mc_iter, P_bar,
    {pert_list}
  FROM rep
),
tk AS (SELECT name, ({t_k}) AS T_K FROM pert)
SELECT name,
  ROUND(AVG(T_K), 2) AS T_K_mean,
  ROUND(STDDEV_SAMP(T_K), 2) AS T_K_std,
  ROUND(QUANTILE_CONT(T_K, 0.5), 2) AS T_K_p5
FROM tk
GROUP BY name
ORDER BY name
"""

# ----------------------------------------------------------------------
# deng2020: BM4 volume bisection × pressure grid → trapezoid ΔV·dP →
# outer fixed point
# ----------------------------------------------------------------------

_DENG_GIBBS = dict(a=-331035.9211346371, b=-190.3795512883899,
                   c=14.785873706952849, d=-0.0016487959655627517,
                   e=9348044.389346942, f=10773.299613088355)
_DENG_MARGULES = {"Mg": 68629.0, "Si": 4601.0, "Al": 40923.0,
                  "Ca": -58109.0, "K": -59584.0}
_DENG_FE_MARGULES = -14210.0
_DENG_EOS = {
    "Fe2": dict(V_0=1180.114014, K_0=26.94713861, Kprime_0=2.802531871,
                Kprime_prime_0=0.012313472,
                tp=dict(a=35.79397483, b=71.10313668, c=36.59545225)),
    "Fe3": dict(V_0=1204.763652, K_0=23.19530062, Kprime_0=3.216089358,
                Kprime_prime_0=0.009340183,
                tp=dict(a=34.52616394, b=68.64429623, c=35.27069116)),
}
_AVOGADRO = 6.02214076e23


def _bm4_residual(phase: str, v: str) -> str:
    """BM4 + thermal-pressure residual f(v) at (t, gp)
    (``models.fe3fe2._deng_volume``,
    ``models.eos.birch_murnaghan_4th_order``)."""
    p = _DENG_EOS[phase]
    V0, K0, Kp, Kpp = p["V_0"], p["K_0"], p["Kprime_0"], p["Kprime_prime_0"]
    tp = p["tp"]
    part3 = (1.0 / 24.0) * (9 * Kp**2 - 63 * Kp + 9 * K0 * Kpp + 143)
    x = f"({V0!r} / {v})"
    x23 = f"(POW({x}, {2.0 / 3.0!r}) - 1.0)"
    bm = (
        f"((1.5 * {K0!r} * (POW({x}, {7.0 / 3.0!r})"
        f" - POW({x}, {5.0 / 3.0!r})))"
        f" * ((1.0 + {0.75 * (Kp - 4.0)!r} * {x23})"
        f" + {part3!r} * {x23} * {x23}))"
    )
    vr = f"({v} / {V0!r})"
    coeff = (
        f"(({tp['a']!r} - {tp['b']!r} * {vr}"
        f" + {tp['c']!r} * {vr} * {vr}) / 1000.0)"
    )
    return f"({bm} + {coeff} * (t - 3000.0) - gp / 1e4)"


def _bisect2_cte(name: str, base: str, consts: list[str]) -> str:
    """Two simultaneous 80-step bisections (Fe2 + Fe3 volumes) per grid
    row — one recursion, no join."""
    cols = ", ".join(consts)
    inits = {}
    for ph in ("Fe2", "Fe3"):
        V0 = _DENG_EOS[ph]["V_0"]
        inits[ph] = (repr(V0 * 0.2), repr(V0 * 1.6))
    f2 = lambda v: _bm4_residual("Fe2", v)
    f3 = lambda v: _bm4_residual("Fe3", v)
    return f"""
{name} AS (
  SELECT name, uid, {cols}, 0 AS it,
         CAST({inits['Fe2'][0]} AS DOUBLE) AS lo2,
         CAST({inits['Fe2'][1]} AS DOUBLE) AS hi2,
         ({f2(inits['Fe2'][0])}) AS flo2,
         CAST({inits['Fe3'][0]} AS DOUBLE) AS lo3,
         CAST({inits['Fe3'][1]} AS DOUBLE) AS hi3,
         ({f3(inits['Fe3'][0])}) AS flo3
  FROM {base}
  UNION ALL
  SELECT name, uid, {cols}, it + 1,
         CASE WHEN SIGN(fm2) = SIGN(flo2) THEN m2 ELSE lo2 END,
         CASE WHEN SIGN(fm2) = SIGN(flo2) THEN hi2 ELSE m2 END,
         CASE WHEN SIGN(fm2) = SIGN(flo2) THEN fm2 ELSE flo2 END,
         CASE WHEN SIGN(fm3) = SIGN(flo3) THEN m3 ELSE lo3 END,
         CASE WHEN SIGN(fm3) = SIGN(flo3) THEN hi3 ELSE m3 END,
         CASE WHEN SIGN(fm3) = SIGN(flo3) THEN fm3 ELSE flo3 END
  FROM (
    SELECT *, ({f2('m2')}) AS fm2, ({f3('m3')}) AS fm3 FROM (
      SELECT *, 0.5 * (lo2 + hi2) AS m2, 0.5 * (lo3 + hi3) AS m3
      FROM {name} WHERE it < 80
    )
  )
)"""


def _g_deng(x: str) -> str:
    """Deng et al. (2020) eq. 3 map (``models.fe3fe2.deng2020_np``)."""
    c = _split_cats(x)
    marg = " + ".join(
        f"{coef!r} * {c[n]}" for n, coef in _DENG_MARGULES.items()
    )
    act = (
        f"((({marg}) + ({c['Fe']} - {c['Fe3']}) * ({_DENG_FE_MARGULES!r}))"
        f" / ({R!r} * t))"
    )
    return f"EXP(-(gd) / ({R!r} * t) - {act} + lnfo2 / 4.0)"


def sql_fe3fe2_deng2020(melt_cte: str) -> str:
    g = _DENG_GIBBS
    mu = (
        "(-587474.0 + 1584.427 * t - 203.3164 * t * LN(t)"
        " + 0.092710 * t * t)"
    )
    lnfo2 = f"LN(EXP({mu} / ({R!r} * t)) * POW(10.0, 1.0))"
    gibbs0 = (
        f"({g['a']!r} + {g['b']!r} * t + {g['c']!r} * t * LN(t)"
        f" + {g['d']!r} * (t * t) + {g['e']!r} / t"
        f" + {g['f']!r} * SQRT(t))"
    )
    # cm3/mol-Fe per solved volume; ΔV in m3; x in Pa
    vconv = f"/ 2.0 * {_AVOGADRO!r} * 1e-24"
    cat_cols = [f"m_{s}" for s in MELT_SPECIES if s != "FeO"]
    bd_consts = ["t", "m_FeO", "rest", "lnfo2", "gd"] + cat_cols
    h_deng = lambda x: f"({_g_deng(x)} - {x})"
    return f"""
WITH RECURSIVE {melt_cte},
sub AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY name ORDER BY SiO2, Al2O3, TiO2, MgO, FeO, CaO, Na2O, K2O, H2O, CO2, P_bar) AS uid FROM melt WHERE name % 64 = 0),
mf AS (
  SELECT name, uid, P_bar, {T_EXPR} AS t,
    {_mol_cols()}
  FROM sub
),
gr AS (
  SELECT name, uid, t, CAST(gpi AS DOUBLE) AS gp
  FROM (
    SELECT name, uid, t,
           UNNEST(range(1, CAST(P_bar AS BIGINT) + 500, 500)) AS gpi
    FROM mf
  )
),
{_bisect2_cte('vb', 'gr', ['t', 'gp'])},
dv AS (
  SELECT name, uid, gp,
    ((0.5 * (lo3 + hi3) {vconv}) - (0.5 * (lo2 + hi2) {vconv})) * 1e-6
      AS dvol
  FROM vb WHERE it = 80
),
trap AS (
  SELECT name, uid,
    SUM(0.5 * (dvol + prev_dvol) * (gp * 1e5 - prev_gp * 1e5)) AS dvdp
  FROM (
    SELECT name, uid, gp, dvol,
      LAG(dvol) OVER (PARTITION BY name, uid ORDER BY gp) AS prev_dvol,
      LAG(gp) OVER (PARTITION BY name, uid ORDER BY gp) AS prev_gp
    FROM dv
  )
  WHERE prev_gp IS NOT NULL
  GROUP BY name, uid
),
cn AS (
  SELECT mf.name AS name, mf.uid AS uid, t, m_FeO,
    {_rest_expr()} AS rest,
    {lnfo2} AS lnfo2,
    ({gibbs0} + trap.dvdp) AS gd,
    {', '.join('m_' + s for s in MELT_SPECIES if s != 'FeO')}
  FROM mf JOIN trap USING (name, uid)
),
{_bisect_cte('bd', 'cn', bd_consts, h_deng, '1e-8', '100.0', 80)}
SELECT name, ROUND(0.5 * (lo + hi), 6) AS Fe3Fe2
FROM {_final('bd', 80)}
ORDER BY name
"""


# ----------------------------------------------------------------------
# qfm_exact: full QFM fO2(T,P) with Tait EOS + Landau + phase
# transitions (``models.eos.fo2_qfm``; reference ``fO2/QFM.py``).
# T-independent Tait/Landau constants are computed HERE with the same
# numpy expressions the kernel uses, then inlined as literals; the
# three transition-pressure solves (quartz→coesite, coesite→stishovite,
# fayalite→ringwoodite) are 80-step bisection recursive CTEs over the
# DISTINCT temperatures; the piecewise VdP assembly is closed-form.
# ----------------------------------------------------------------------

import numpy as _np

from magmapandas_spark.models import eos as _eos

R_EOS = _eos.R


def _tait_consts(phase: str) -> dict[str, float]:
    p = _eos.EOS_PARAMS[phase]
    s, v0, n, a0, K0, dKdP, dKdP2 = (
        p["s"], p["v0"], p["n"], p["a0"], p["K0"], p["dKdP"], p["dKdP2"]
    )
    theta = 10636.0 / (s / n + 6.44)
    u0 = theta / 298.15
    xi0 = u0**2 * _np.exp(u0) / (_np.exp(u0) - 1) ** 2.0
    a = (1.0 + dKdP) / (1.0 + dKdP + K0 * dKdP2)
    b = dKdP / K0 - dKdP2 / (1.0 + dKdP)
    c = (1.0 + dKdP + K0 * dKdP2) / (dKdP**2.0 + dKdP - K0 * dKdP2)
    return dict(
        theta=float(theta),
        pref=float(a0 * K0 * theta / xi0),
        inv_eu0=float(1 / (_np.exp(u0) - 1.0)),
        a=float(a),
        one_minus_a=float(1 - a),
        b=float(b),
        one_minus_c=float(1 - c),
        bc1=float(b * (c - 1)),
        v0=float(v0),
    )


def _sql_tait(phase: str, p: str, t: str) -> str:
    c = _tait_consts(phase)
    pth = (
        f"({c['pref']!r} * (1.0 / (EXP({c['theta']!r} / {t}) - 1.0)"
        f" - {c['inv_eu0']!r}))"
    )
    x1 = f"(1.0 - {c['b']!r} * {pth})"
    x2 = f"(1.0 + {c['b']!r} * ({p} - {pth}))"
    part1 = f"(SIGN({x1}) * POWER(ABS({x1}), {c['one_minus_c']!r}))"
    part2 = f"(SIGN({x2}) * POWER(ABS({x2}), {c['one_minus_c']!r}))"
    part3 = f"({c['bc1']!r} * {p})"
    vdp = (
        f"(({p} * {c['v0']!r}) * ({c['one_minus_a']!r}"
        f" + ({c['a']!r} * ({part1} - {part2})) / {part3}))"
    )
    return f"(CASE WHEN {p} = 0.0 THEN 0.0 ELSE {vdp} END)"


def _sql_landau(phase: str, p: str, t: str, vmax: float | None = None) -> str:
    prm = _eos.EOS_PARAMS[phase]
    if vmax is None:
        vmax = prm["vmax"]
    smax, tc0 = prm["smax"], prm["Tc0"]
    q20 = float(_np.sqrt(1 - 298.15 / tc0))
    q20_3 = float(_np.float64(q20) ** 3)
    tc = f"({tc0!r} + ({p} * {vmax!r}) / {smax!r})"
    q2 = (
        f"(CASE WHEN {t} > {tc} THEN 0.0"
        f" ELSE SQRT(GREATEST(({tc} - {t}) / {tc0!r}, 0.0)) END)"
    )
    return (
        f"(({smax!r} * (({tc0!r} * ({q20!r}"
        f" + (POWER({q2}, 3) - {q20_3!r}) / 3))"
        f" - {tc} * {q2} - {t} * ({q20!r} - {q2})))"
        f" + ({p} * {vmax!r}) * {q20!r})"
    )


def _sql_landau_pd(phase: str, p: str, t: str) -> str:
    """landau_P_dependent: landau(p) − landau(0, vmax=0)."""
    return (
        f"({_sql_landau(phase, p, t)}"
        f" - {_sql_landau(phase, '0.0', t, vmax=0.0)})"
    )


def _sql_enthalpy(phase: str, t: str) -> str:
    prm = _eos.EOS_PARAMS[phase]
    a, b, c, d = prm["cp_a"], prm["cp_b"], prm["cp_c"], prm["cp_d"]
    T = 298.15
    ref = float(a * T + 0.5 * b * T**2.0 - c / T + 2 * d * _np.sqrt(T))
    return (
        f"(({a!r} * {t} + {float(0.5 * b)!r} * POWER({t}, 2.0)"
        f" - {c!r} / {t} + {float(2 * d)!r} * SQRT({t})) - {ref!r})"
    )


def _sql_entropy(phase: str, t: str) -> str:
    prm = _eos.EOS_PARAMS[phase]
    a, b, c, d = prm["cp_a"], prm["cp_b"], prm["cp_c"], prm["cp_d"]
    T = 298.15
    ref = float(
        a * _np.log(T) + b * T - c / 2 * T**-2.0 - 2 * d * T ** (-0.5)
    )
    return (
        f"(({a!r} * LN({t}) + {b!r} * {t}"
        f" - {float(c / 2)!r} * POWER({t}, -2.0)"
        f" - {float(2 * d)!r} * POWER({t}, -0.5)) - {ref!r})"
    )


def _sql_gibbs(phase: str, p: str, t: str) -> str:
    prm = _eos.EOS_PARAMS[phase]
    h = prm["h"]
    sk = float(prm["s"] / 1e3)
    g = (
        f"(({h!r} + {_sql_enthalpy(phase, t)})"
        f" - {t} * ({sk!r} + {_sql_entropy(phase, t)}))"
    )
    g = f"({g} + {_sql_tait(phase, p, t)})"
    if phase in ("quartz", "magnetite"):
        g = f"({g} + {_sql_landau(phase, p, t)})"
    return g


def _bisect_t(name: str, h, lo: str, hi: str, iters: int = 80) -> str:
    """Bisection CTE keyed by distinct temperature ``t`` (mirror of
    ``_bisect_cte`` / ``eos.bisect_vectorized``)."""
    return f"""
{name} AS (
  SELECT t, 0 AS it, CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi,
         ({h(lo)}) AS flo
  FROM tvals
  UNION ALL
  SELECT t, it + 1,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN mid ELSE lo END,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN hi ELSE mid END,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN fmid ELSE flo END
  FROM (
    SELECT *, ({h('mid')}) AS fmid FROM (
      SELECT *, 0.5 * (lo + hi) AS mid FROM {name} WHERE it < {iters}
    )
  )
)"""


QFM_GRID_P_BAR = [1000.0, 5000.0, 20000.0, 40000.0, 80000.0, 120000.0]


def sql_qfm_exact(melt_cte: str, iters: int = 80) -> str:
    def dg(ph1, ph2):
        return lambda x: (
            f"({_sql_gibbs(ph1, x, 't')} - {_sql_gibbs(ph2, x, 't')})"
        )

    bis_qc = _bisect_t("bqc", dg("quartz", "coesite"), "0.001", "150.0", iters)
    bis_cs = _bisect_t(
        "bcs", dg("coesite", "stishovite"), "0.001", "400.0", iters
    )
    bis_fr = _bisect_t(
        "bfr", dg("fayalite", "ringwoodite"), "0.001", "400.0", iters
    )
    plist = ", ".join(repr(p) for p in QFM_GRID_P_BAR)

    t = "t"
    vq = (
        f"(({_sql_tait('quartz', 'LEAST(p, p_qc)', t)}"
        f" + {_sql_landau_pd('quartz', 'LEAST(p, p_qc)', t)})"
        f" + CASE WHEN p > p_qc THEN"
        f" ({_sql_tait('coesite', 'LEAST(p, p_cs)', t)}"
        f" - {_sql_tait('coesite', 'p_qc', t)}) ELSE 0.0 END"
        f" + CASE WHEN p > p_cs THEN"
        f" ({_sql_tait('stishovite', 'p', t)}"
        f" - {_sql_tait('stishovite', 'p_cs', t)}) ELSE 0.0 END)"
    )
    vm = _sql_tait("magnetite", "p", t)
    vf = (
        f"({_sql_tait('fayalite', 'LEAST(p, p_fr)', t)}"
        f" + CASE WHEN p > p_fr THEN"
        f" ({_sql_tait('ringwoodite', 'p', t)}"
        f" - {_sql_tait('ringwoodite', 'p_fr', t)}) ELSE 0.0 END)"
    )
    vq1 = (
        f"({_sql_tait('quartz', '0.001', t)}"
        f" + {_sql_landau_pd('quartz', '0.001', t)})"
    )
    vm1 = _sql_tait("magnetite", "0.001", t)
    vf1 = _sql_tait("fayalite", "0.001", t)
    mu_1bar_poly = (
        f"(-587474 + 1584.427 * {t} - 203.3164 * {t} * LN({t})"
        f" + 0.092710 * POWER({t}, 2))"
    )
    muo2 = (
        f"({mu_1bar_poly} + ((1000.0 * (3 * vq + 2 * vm - 3 * vf))"
        f" - (1000.0 * (3 * {vq1} + 2 * {vm1} - 3 * {vf1}))))"
    )
    return f"""
WITH RECURSIVE {melt_cte.strip()},
tvals AS (SELECT DISTINCT {T_EXPR} AS t FROM melt),
{bis_qc.strip()},
{bis_cs.strip()},
{bis_fr.strip()},
trans AS (
  SELECT q.t,
         0.5 * (q.lo + q.hi) AS p_qc,
         0.5 * (c.lo + c.hi) AS p_cs,
         0.5 * (f.lo + f.hi) AS p_fr
  FROM (SELECT * FROM bqc WHERE it = {iters}) q
  JOIN (SELECT * FROM bcs WHERE it = {iters}) c ON q.t = c.t
  JOIN (SELECT * FROM bfr WHERE it = {iters}) f ON q.t = f.t
),
grid AS (
  SELECT t, u.pb AS P_bar, u.pb / 1000.0 AS p
  FROM tvals, UNNEST([{plist}]) AS u(pb)
),
j AS (
  SELECT grid.t, grid.P_bar, grid.p, p_qc, p_cs, p_fr
  FROM grid JOIN trans ON grid.t = trans.t
),
v AS (
  SELECT t, P_bar, {vq} AS vq, {vm} AS vm, {vf} AS vf
  FROM j
)
SELECT t, P_bar,
       ROUND(LOG10(EXP({muo2} / ({R_EOS!r} * t))), 6) AS log_qfm
FROM v
ORDER BY t, P_bar
"""


# ----------------------------------------------------------------------
# iw_exact: Hirschmann (2021) Iron-Wustite buffer (``models.iw.fo2_iw_np``).
# Same literal-inlining strategy as qfm_exact; three solver layers:
# (1) Vinet room-T volume inversions — 60-step bisections over the
#     shared 100-point integration grid (depends on grid pressure only,
#     so ONE bisection CTE per phase serves every (T,P) row);
# (2) the V·dP trapezoid — LAG/LEAD pairing + grouped sum, matching the
#     deng2020 oracle's proven pattern;
# (3) the wustite FeO1.5-fraction solve — 80-step bisection per (T,P)
#     row with the reference's fixed-left-endpoint sign test and its
#     non-bracketed→1e-6 fallback.
# ----------------------------------------------------------------------

from magmapandas_spark.models import iw as _iw

R_IW = _iw.R

IW_GRID_P_BAR = [1.0, 10000.0, 50000.0, 100000.0, 300000.0, 600000.0]


def _sql_g0poly(t: str, prm) -> str:
    a, b, c, d, e, f, g, h, i = prm
    return (
        f"({a!r} + {b!r} * {t} + {c!r} * {t} * LN({t}) + {d!r} * LN({t})"
        f" + {e!r} * POWER({t}, 2) + {f!r} * POWER({t}, 3) + {g!r} / {t}"
        f" + {h!r} * POWER({t}, 7) + {i!r} * POWER({t}, -9.0))"
    )


def _sql_g0(phase: str, t: str) -> str:
    low, high = _iw._G0[phase]
    base = (
        f"(CASE WHEN {t} > 1811.0 THEN {_sql_g0poly(t, high)}"
        f" ELSE {_sql_g0poly(t, low)} END)"
    )
    if phase == "O2":
        return (
            f"(CASE WHEN {t} < 1000.0 THEN {_sql_g0poly(t, _iw._O2_LOW_T)}"
            f" ELSE {base} END)"
        )
    return base


def _sql_gmag(t: str) -> str:
    Tc, P_factor, beta, A = 1043.0, 0.4, 2.22, 1.55828482
    inv_a = float(1.0 / A)
    tau = f"({t} / {Tc!r})"
    below = (
        f"(1.0 - {inv_a!r} * ((79.0 / {tau}) / {float(140.0 * P_factor)!r}"
        f" + {float(474.0 / 497.0)!r} * ({float(1.0 / P_factor)!r} - 1.0)"
        f" * (POWER({tau}, 3) / 6.0 + POWER({tau}, 9) / 135.0"
        f" + POWER({tau}, 15) / 600.0)))"
    )
    above = (
        f"({float(-1.0 / A)!r} * (POWER({tau}, -5) / 10.0"
        f" + POWER({tau}, -15) / 315.0 + {float(1.0 / 1500.0)!r}))"
    )
    import numpy as __np

    lnb = float(__np.log(beta + 1.0))
    return (
        f"((CASE WHEN {t} < {Tc!r} THEN {below} ELSE {above} END)"
        f" * (({R_IW!r} * {t}) * {lnb!r}))"
    )


def _vinet_f(V: str, V0: float, K0: float, Kp: float) -> str:
    """Vinet P(V) − gp: the room-T inversion residual."""
    x = f"POWER({V} / {V0!r}, {float(1.0 / 3.0)!r})"
    return (
        f"(({float(3.0 * K0)!r} * POWER({x}, -2) * (1.0 - {x})"
        f" * EXP({float(1.5 * (Kp - 1.0))!r} * (1.0 - {x}))) - gp)"
    )


def _sql_vinet_cte(name: str, phase: str, iters: int = 60) -> str:
    V0, K0, Kp = _iw._VINET[phase][:3]
    f_mid = _vinet_f("mid", V0, K0, Kp)
    return f"""
{name} AS (
  SELECT Pg, k, gp, 0 AS it,
         CAST({float(0.2 * V0)!r} AS DOUBLE) AS lo,
         CAST({float(V0 * 1.001)!r} AS DOUBLE) AS hi
  FROM vgrid
  UNION ALL
  SELECT Pg, k, gp, it + 1,
         CASE WHEN fmid < 0 THEN lo ELSE mid END,
         CASE WHEN fmid < 0 THEN mid ELSE hi END
  FROM (
    SELECT *, ({f_mid}) AS fmid FROM (
      SELECT *, 0.5 * (lo + hi) AS mid FROM {name} WHERE it < {iters}
    )
  )
)"""


_IW_PHASES = [
    ("feo", "FeO"),
    ("feo15", "FeO1.5"),
    ("fcc", "Fe_fcc"),
    ("bcca", "Fe_bcc-alpha"),
    ("hcp", "Fe_HCP"),
    ("bccd", "Fe_bcc-delta"),
    ("liq", "Fe_liquid"),
]


def _sql_vinet_integrand(phase: str, vr: str, t: str) -> str:
    """V(T, gp) from the room-T volume: thermal expansion factor."""
    V0, K0, Kp, alpha0, delta0, kappa = _iw._VINET[phase]
    alpha = (
        f"({alpha0!r} * EXP({float(-delta0 / kappa)!r}"
        f" * (1.0 - POWER({vr} / {V0!r}, {kappa!r}))))"
    )
    return f"({vr} * EXP({alpha} * ({t} - 298.15)))"


def _gamma_feo_sql(x: str) -> str:
    q00, q10 = _iw._Q00, _iw._Q10
    return f"(({q00!r} + {float(2.0 * q10)!r} * (1.0 - {x})) * POWER({x}, 2))"


def _gamma_feo15_sql(x: str) -> str:
    q00, q10 = _iw._Q00, _iw._Q10
    return (
        f"(POWER(1.0 - {x}, 2) * ({float(q00 + q10)!r}"
        f" - {float(2.0 * q10)!r} * {x}))"
    )


def _wustite_f(x: str) -> str:
    """Objective of the FeO1.5-fraction solve
    (``models.iw._solve_XFeO1p5``)."""
    return (
        f"((0.5 * dgw + ({R_IW!r} * t)"
        f" * LN(POWER(1.0 - {x}, 1.5) / {x})"
        f" + 1.5 * {_gamma_feo_sql(x)}) - {_gamma_feo15_sql(x)})"
    )


def sql_iw_exact(melt_cte: str, n_step: int = 100, iters: int = 80) -> str:
    plist = ", ".join(repr(p) for p in IW_GRID_P_BAR)
    vinet_ctes = ",\n".join(
        _sql_vinet_cte(f"vr_{short}", phase).strip()
        for short, phase in _IW_PHASES
    )
    vr_joins = "\n  ".join(
        f"JOIN (SELECT Pg, k, gp, 0.5 * (lo + hi) AS vroom FROM vr_{short}"
        f" WHERE it = 60) {short} ON vgrid.Pg = {short}.Pg"
        f" AND vgrid.k = {short}.k"
        for short, _ in _IW_PHASES
    )
    integrands = ",\n    ".join(
        f"{_sql_vinet_integrand(phase, f'{short}.vroom', 'r.t')} AS v_{short}"
        for short, phase in _IW_PHASES
    )
    trap_cols = ",\n    ".join(
        f"SUM((d * (v_{short} + nv_{short})) / 2.0) * 1000.0 AS vdp_{short}"
        for short, _ in _IW_PHASES
    )
    lead_cols = ",\n    ".join(
        f"LEAD(v_{short}) OVER w AS nv_{short}" for short, _ in _IW_PHASES
    )
    g0 = {short: _sql_g0(phase, "t") for short, phase in _IW_PHASES}
    g0["o2"] = _sql_g0("O2", "t")
    gb = {
        short: (
            f"({g0[short]}"
            + (f" + {_sql_gmag('t')}" if short == "bcca" else "")
            + f" + CASE WHEN P_bar > 1.0 THEN"
            + f" (CASE WHEN Pg <= 1e-4 THEN 0.0 ELSE vdp_{short} END)"
            + " ELSE 0.0 END)"
        )
        for short, _ in _IW_PHASES
    }
    gfe = (
        f"LEAST({gb['fcc']}, {gb['bcca']}, {gb['hcp']},"
        f" {gb['bccd']}, {gb['liq']})"
    )
    fallback_x = repr(1e-6)
    f_lo = _wustite_f(fallback_x)
    f_mid = _wustite_f("mid")
    lohi = float(1.0 - 1e-6)
    gamma_term = (
        f"(((dgf + ({R_IW!r} * t) * LN(x / (1.0 - x)))"
        f" + {_gamma_feo15_sql('x')}) - {_gamma_feo_sql('x')})"
    )
    vdps = ", ".join(
        f"trap.vdp_{short} AS vdp_{short}" for short, _ in _IW_PHASES
    )
    return f"""
WITH RECURSIVE {melt_cte.strip()},
tvals AS (SELECT DISTINCT {T_EXPR} AS t FROM melt),
plevels AS (SELECT DISTINCT u.pb / 10000.0 AS Pg FROM UNNEST([{plist}]) u(pb)),
vgrid AS (
  SELECT Pg, CAST(kk.k AS BIGINT) AS k,
         CASE WHEN kk.k = {n_step - 1} THEN Pg
              ELSE (kk.k * ((Pg - 1e-4) / {float(n_step - 1)!r})) + 1e-4
         END AS gp
  FROM plevels, UNNEST(range({n_step})) kk(k)
),
{vinet_ctes},
vrooms AS (
  SELECT vgrid.Pg, vgrid.k, vgrid.gp,
         {", ".join(f"{short}.vroom AS vroom_{short}" for short, _ in _IW_PHASES)}
  FROM vgrid
  {vr_joins}
),
rows_tp AS (
  SELECT t, u.pb AS P_bar, u.pb / 10000.0 AS Pg
  FROM tvals, UNNEST([{plist}]) u(pb)
),
vint AS (
  SELECT r.t, r.P_bar, v.k, v.gp,
    {", ".join(f"{_sql_vinet_integrand(phase, f'v.vroom_{short}', 'r.t')} AS v_{short}" for short, phase in _IW_PHASES)}
  FROM rows_tp r JOIN vrooms v ON r.Pg = v.Pg
),
paired AS (
  SELECT *, LEAD(gp) OVER w - gp AS d,
    {lead_cols}
  FROM vint
  WINDOW w AS (PARTITION BY t, P_bar ORDER BY k)
),
trap AS (
  SELECT t, P_bar,
    {trap_cols}
  FROM paired WHERE d IS NOT NULL
  GROUP BY t, P_bar
),
gibbs AS (
  SELECT t, P_bar, Pg,
         {gfe} AS gfe,
         {gb['feo']} AS g_feo,
         {gb['feo15']} AS g_feo15,
         {g0['o2']} AS g_o2
  FROM (
    SELECT r.t AS t, r.P_bar AS P_bar, r.Pg AS Pg,
           {vdps}
    FROM rows_tp r JOIN trap ON r.t = trap.t AND r.P_bar = trap.P_bar
  )
),
dg AS (
  SELECT t, P_bar,
         ((g_feo15 - g_feo) - g_o2 / 4.0) AS dgf,
         (((3.0 * g_feo) - (2.0 * g_feo15)) - gfe) AS dgw
  FROM gibbs
),
wb AS (
  SELECT t, P_bar, dgf, dgw, 0 AS it,
         CAST(1e-6 AS DOUBLE) AS lo, CAST({lohi!r} AS DOUBLE) AS hi,
         ({f_lo}) AS flo
  FROM dg
  UNION ALL
  SELECT t, P_bar, dgf, dgw, it + 1,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN mid ELSE lo END,
         CASE WHEN SIGN(fmid) = SIGN(flo) THEN hi ELSE mid END,
         flo
  FROM (
    SELECT *, ({f_mid}) AS fmid FROM (
      SELECT *, 0.5 * (lo + hi) AS mid FROM wb WHERE it < {iters}
    )
  )
),
xsol AS (
  SELECT t, P_bar, dgf, dgw,
         CASE WHEN SIGN(flo) < 0 THEN 1e-6 ELSE 0.5 * (lo + hi) END AS x
  FROM wb WHERE it = {iters}
)
SELECT t, P_bar,
       ROUND(LOG10(EXP((4.0 * {gamma_term}) / ({R_IW!r} * t))), 6)
         AS log_iw
FROM xsol
ORDER BY t, P_bar
"""
