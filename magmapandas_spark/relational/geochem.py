"""Geochemistry gate queries: the paper's models over the synthetic
melt table (:func:`suite.synthetic_melt`) and over olivine, Fe-Ti oxide
and plagioclase fixtures derived from ``lineitem`` the same way.

Expression-tier models have exact SQL twins built from the same
formulas; solver-tier models (per-row fixed points, EOS integrals)
are checked against the DuckDB replays in :mod:`solver_oracles`.
Model outputs are ROUNDed on both sides."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.relational.suite import (
    MELT_SPECIES,
    SQL_MELT_CTE,
    T_EXPR,
    _sql_mole_fraction_terms,
    _t,
    synthetic_melt,
    t_sweep,
)

W = chem.calculate_weight
R_GAS = 8.314462618


def _solver_oracle(name: str) -> Callable[[], str]:
    """Oracle builder for a solver-tier query. ``solver_oracles``
    imports the model modules, so it loads when an oracle is built,
    not when the registry is listed."""

    def build() -> str:
        from magmapandas_spark.relational import solver_oracles

        return getattr(solver_oracles, name)(SQL_MELT_CTE)

    return build


# ----------------------------------------------------------------------
# melt thermometers, redox, density/viscosity, olivine
# ----------------------------------------------------------------------


def q_thermometer_putirka15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default melt thermometer (Putirka 2008 eq. 15,
    ``thermometers/melt.py:191-279``) over the synthetic melt table —
    narrow, shuffle-free expression pipeline."""
    from magmapandas_spark.models import thermometers as tm

    gf = synthetic_melt(spark, sf_dir)
    out = tm.putirka2008_15(gf, P_bar="P_bar")
    return out.select("name", F.round("T_K", 4).alias("T_K")).orderBy("name")


def _sql_thermometer_putirka15() -> str:
    # the formula less its outer parentheses: the oracle SQL, and the
    # value hash stored under its SHA-256, stay byte for byte the same
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({_sql_putirka15_raw()[1:-1]}, 4) AS T_K
FROM melt
ORDER BY name
"""


def _sql_putirka15_raw() -> str:
    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, frac = _sql_mole_fraction_terms(anhyd)
    mg_no = f"({frac['MgO']} / ({frac['MgO']} + {frac['FeO']}))"
    return (
        f"(815.3 + 265.5 * {mg_no} + 15.37 * MgO + 8.61 * FeO"
        f" + 6.646 * (Na2O + K2O) + 39.16 * (P_bar / 10000.0)"
        f" - 12.83 * H2O + 273.15)"
    )


def q_redox_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship chained pipeline (EP2 of SURVEY §3): thermometer →
    QFM(1 bar)+1 fO2 → Borisov Fe3Fe2 — one shuffle-free codegen stage
    end-to-end."""
    from magmapandas_spark.models import fe3fe2, fo2
    from magmapandas_spark.models import thermometers as tm
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    with_t = tm.putirka2008_15(gf, P_bar="P_bar")
    gf2 = GeoFrame(with_t, units="wt.%", datatype="oxide",
                   species=MELT_SPECIES)
    fO2 = fo2.fo2_qfm_1bar(1.0, F.col("T_K"))
    comp = components_expr(gf2, [])
    mol = mole_fraction_exprs(comp)
    fe = fe3fe2.fe3fe2_borisov2018(mol, F.col("T_K"), fO2)
    return (
        gf2.df.withColumn("Fe3Fe2", fe)
        .select(
            "name",
            F.round("T_K", 4).alias("T_K"),
            F.round("Fe3Fe2", 6).alias("Fe3Fe2"),
        )
        .orderBy("name")
    )


def _sql_redox_chain() -> str:
    t_k = _sql_putirka15_raw()
    _, frac = _sql_mole_fraction_terms(MELT_SPECIES)
    fo2 = (
        f"(EXP((-587474 + 1584.427 * T_K - 203.3164 * T_K * LN(T_K)"
        f" + 0.092710 * T_K * T_K) / ({R_GAS!r} * T_K)) * 10.0)"
    )
    log10fo2 = f"(LN({fo2}) / LN(10.0))"
    fe3fe2 = (
        f"POWER(10.0, 0.207 * {log10fo2} + 4633.3 / T_K"
        f" - 0.445 * {frac['SiO2']} - 0.900 * {frac['TiO2']}"
        f" + 1.532 * {frac['MgO']} + 0.314 * {frac['CaO']}"
        f" + 2.030 * {frac['Na2O']} + 3.355 * {frac['K2O']}"
        f" - 4.851 * {frac['P2O5']}"
        f" - 3.081 * {frac['SiO2']} * {frac['Al2O3']}"
        f" - 4.370 * {frac['SiO2']} * {frac['MgO']} - 1.852)"
    )
    return f"""
WITH {SQL_MELT_CTE},
with_t AS (SELECT *, {t_k} AS T_K FROM melt)
SELECT name, ROUND(T_K, 4) AS T_K, ROUND({fe3fe2}, 6) AS Fe3Fe2
FROM with_t
ORDER BY name
"""


_DENSITY = {
    "T_REF": {"SiO2": 1773.0, "TiO2": 1773.0, "Al2O3": 1773.0,
              "Fe2O3": 1723.0, "FeO": 1723.0, "MgO": 1773.0, "CaO": 1773.0,
              "Na2O": 1773.0, "K2O": 1773.0, "H2O": 1273.0},
    "MV": {"SiO2": 26.86, "TiO2": 28.32, "Al2O3": 37.42, "Fe2O3": 41.50,
           "FeO": 12.68, "MgO": 12.02, "CaO": 16.90, "Na2O": 29.65,
           "K2O": 47.28, "H2O": 22.9},
    "DVDT": {"SiO2": 0.0, "TiO2": 0.00724, "Al2O3": 0.00262, "Fe2O3": 0.0,
             "FeO": 0.00369, "MgO": 0.00327, "CaO": 0.00374,
             "Na2O": 0.00768, "K2O": 0.01208, "H2O": 0.0095},
    "DVDP": {"SiO2": -1.89e-4, "TiO2": -2.31e-4, "Al2O3": -2.26e-4,
             "Fe2O3": -2.5e-4, "FeO": -4.5e-5, "MgO": 2.7e-5,
             "CaO": 3.4e-5, "Na2O": -2.4e-4, "K2O": -6.75e-4,
             "H2O": -3.2e-4},
}


def q_density_viscosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iacovino density + Giordano viscosity over the synthetic melt."""
    from magmapandas_spark.models import rheology

    gf = synthetic_melt(spark, sf_dir)
    T_K, P_bar = 1473.15, 2000.0
    d = rheology.calculate_density(gf, T_K=T_K, P_bar=P_bar)
    gf_d = GeoFrame(d, units="wt.%", datatype="oxide", species=MELT_SPECIES)
    out = rheology.calculate_viscosity(gf_d, T_K=T_K)
    return (
        out.select(
            "name",
            F.round("density", 4).alias("density"),
            F.round("viscosity", 6).alias("viscosity"),
        )
        .orderBy("name")
    )


def _sql_density_viscosity() -> str:
    T_K, P_bar = 1473.15, 2000.0
    comps = list(_DENSITY["MV"])
    # mole fractions over ALL species (density.py:96-98), model oxides only
    # in the volume sum; Fe2O3 missing → zero term
    _, frac = _sql_mole_fraction_terms(MELT_SPECIES)
    mass = " + ".join(
        f"({frac[s]} * {W(s)!r})" for s in comps if s in frac
    )
    vol = " + ".join(
        f"((({T_K!r} - {_DENSITY['T_REF'][s]!r}) * {_DENSITY['DVDT'][s]!r}"
        f" + ({P_bar!r} - 1.0) * {_DENSITY['DVDP'][s]!r}"
        f" + {_DENSITY['MV'][s]!r}) * {frac[s]})"
        for s in comps
        if s in frac
    )
    density = f"(({mass}) / ({vol}) * 1000.0)"

    m = {s: f"({frac[s]} * 100.0)" for s in frac}
    z = "0.0"
    g = lambda s: m.get(s, z)
    B = (
        f"(159.6 * ({g('SiO2')} + {g('TiO2')})"
        f" + -173.3 * {g('Al2O3')}"
        f" + 72.1 * ({g('FeO')} + {g('MnO')} + {g('P2O5')})"
        f" + 75.7 * {g('MgO')}"
        f" + -39.0 * {g('CaO')}"
        f" + -84.1 * ({g('Na2O')} + {g('H2O')} + {z})"
        f" + 141.5 * ({g('H2O')} + {z} + LN(1.0 + {g('H2O')}))"
        f" + -2.43 * (({g('SiO2')} + {g('TiO2')}) * ({g('FeO')} + {g('MnO')} + {g('MgO')}))"
        f" + -0.91 * (({g('SiO2')} + {g('TiO2')} + {g('Al2O3')} + {g('P2O5')})"
        f" * ({g('Na2O')} + {g('K2O')} + {g('H2O')}))"
        f" + 17.6 * ({g('Al2O3')} * ({g('Na2O')} + {g('K2O')})))"
    )
    C = (
        f"(2.75 * {g('SiO2')}"
        f" + 15.7 * ({g('TiO2')} + {g('Al2O3')})"
        f" + 8.3 * ({g('FeO')} + {g('MgO')} + {g('MnO')})"
        f" + 10.2 * {g('CaO')}"
        f" + -12.3 * ({g('Na2O')} + {g('K2O')})"
        f" + -99.5 * LN(1.0 + {g('H2O')} + {z})"
        f" + 0.3 * (({g('Al2O3')} + {g('FeO')} + {g('MgO')} + {g('MnO')}"
        f" + {g('CaO')} - {g('P2O5')})"
        f" * ({g('Na2O')} + {g('K2O')} + {g('H2O')} + {z})))"
    )
    viscosity = f"(-4.55 + {B} / ({T_K!r} - {C}))"
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({density}, 4) AS density, ROUND({viscosity}, 6) AS viscosity
FROM melt
ORDER BY name
"""


SQL_OLIVINE_CTE = """
olivine AS (
  SELECT
    p_partkey AS name,
    39.0 + (p_partkey % 30) * 0.05 AS SiO2,
    42.0 + (p_size % 20) * 0.25 AS MgO,
    10.0 + (p_partkey % 80) * 0.1 AS FeO,
    0.1 + (p_size % 5) * 0.05 AS MnO,
    0.25 AS NiO,
    0.05 + (p_partkey % 3) * 0.05 AS CaO
  FROM part
)
"""


OLIVINE_SPECIES = ["SiO2", "MgO", "FeO", "MnO", "NiO", "CaO"]


def synthetic_olivine(spark: SparkSession, sf_dir: str) -> GeoFrame:
    part = spark.read.parquet(_t(sf_dir, "part"))
    df = part.select(
        F.col("p_partkey").alias("name"),
        (F.lit(39.0) + (F.col("p_partkey") % 30) * F.lit(0.05)).alias("SiO2"),
        (F.lit(42.0) + (F.col("p_size") % 20) * F.lit(0.25)).alias("MgO"),
        (F.lit(10.0) + (F.col("p_partkey") % 80) * F.lit(0.1)).alias("FeO"),
        (F.lit(0.1) + (F.col("p_size") % 5) * F.lit(0.05)).alias("MnO"),
        F.lit(0.25).alias("NiO"),
        (F.lit(0.05) + (F.col("p_partkey") % 3) * F.lit(0.05)).alias("CaO"),
    )
    return GeoFrame(df, units="wt.%", datatype="oxide", species=OLIVINE_SPECIES)


def q_mineral_forsterite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Olivine forsterite + 4-oxygen mineral-formula cations."""
    from magmapandas_spark.models import minerals

    gf = synthetic_olivine(spark, sf_dir)
    with_fo = minerals.forsterite(gf)
    gf2 = GeoFrame(with_fo, units="wt.%", datatype="oxide",
                   species=OLIVINE_SPECIES)
    formula = gf2.mineral_formula(O=4)
    out = formula.df.select(
        "name",
        F.round("Fo", 6).alias("Fo"),
        F.round("Si", 6).alias("Si"),
        F.round("Mg", 6).alias("Mg"),
        F.round("Fe", 6).alias("Fe"),
    )
    return out.orderBy("name")


def _sql_mineral_forsterite() -> str:
    _, frac = _sql_mole_fraction_terms(OLIVINE_SPECIES)
    fo = f"({frac['MgO']} / ({frac['FeO']} + {frac['MgO']}))"
    # cation fractions == oxide mol fractions here (all 1-cation oxides);
    # oxygen factor: Σ cation_i × (O/cat)_i ; SiO2 → 2 O, others → 1
    o_ratio = {"SiO2": 2.0, "MgO": 1.0, "FeO": 1.0, "MnO": 1.0, "NiO": 1.0,
               "CaO": 1.0}
    mol_terms = [f"({s} / {W(s)!r})" for s in OLIVINE_SPECIES]
    total_mol = " + ".join(mol_terms)
    cat = {s: f"(({s} / {W(s)!r}) / ({total_mol}))" for s in OLIVINE_SPECIES}
    oxy_total = " + ".join(f"({cat[s]} * {o_ratio[s]!r})" for s in OLIVINE_SPECIES)
    factor = f"(4.0 / ({oxy_total}))"
    return f"""
WITH {SQL_OLIVINE_CTE}
SELECT name,
  ROUND({fo}, 6) AS Fo,
  ROUND({cat['SiO2']} * {factor}, 6) AS Si,
  ROUND({cat['MgO']} * {factor}, 6) AS Mg,
  ROUND({cat['FeO']} * {factor}, 6) AS Fe
FROM olivine
ORDER BY name
"""


# ----------------------------------------------------------------------
# volatile solubility and saturation
# ----------------------------------------------------------------------


def q_shishkina_co2_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shishkina (2014) pure-CO2 saturation pressure — closed-form
    inversion as a pure Column expression (no UDF, whole-stage
    codegen)."""
    from magmapandas_spark.models import volatiles as vol

    gf = synthetic_melt(spark, sf_dir)
    out = gf.df.withColumn(
        "P_sat", vol.shishkina_co2_saturation_expr(gf)
    )
    return out.select("name", F.round("P_sat", 4).alias("P_sat")).orderBy(
        "name"
    )


def _sql_shishkina_co2() -> str:
    # anhydrous cation fractions from the synthetic melt species
    anhyd = [s for s in MELT_SPECIES if s not in ("H2O", "CO2")]
    from magmapandas_spark.chem.elements import (
        cation_amount,
        cation_name,
        calculate_weight,
    )

    cat_terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        for s in anhyd
    }
    total = " + ".join(cat_terms.values())
    cat = {cation_name(s): f"({cat_terms[s]} / ({total}))" for s in anhyd}
    z = "0.0"
    g = lambda n: cat.get(n, z)
    pi_star = (
        f"(({g('Ca')} + 0.8 * {g('K')} + 0.7 * {g('Na')}"
        f" + 0.4 * {g('Mg')} + 0.4 * {g('Fe')}) / ({g('Si')} + {g('Al')}))"
    )
    A, B, C = 1.150, 6.71, -1.345
    p_sat = (
        f"(CASE WHEN CO2 > 0 THEN"
        f" EXP((LN(CO2 * 10000.0) - {B!r} * {pi_star} - ({C!r})) / {A!r}) * 10.0"
        f" ELSE 0.0 END)"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name, ROUND({p_sat}, 4) AS P_sat
FROM melt
ORDER BY name
"""


def q_volatile_saturation_im(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iacono-Marziano mixed CO2-H2O saturation over the synthetic melt:
    the reference's per-row multiprocessing showcase (EP3, SURVEY §3)
    as one vectorized UDF stage. Exact DuckDB oracle: the saturation
    residual is closed-form in P, so the 60-step bisection is a
    recursive CTE (``solver_oracles.sql_volatile_saturation_im``)."""
    from magmapandas_spark.models import volatiles as vol

    gf = _melt_subset(spark, sf_dir, modulus=1)
    out = vol.volatile_saturation_pressure(gf, T_K=1473.15, species="mixed")
    return out.select(
        "name",
        F.round("P_bar_sat", 4).alias("P_bar_sat"),
        F.round("Xfl", 6).alias("Xfl"),
    )


def q_allison_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allison (2022) MafiCH mixed-fluid saturation over the synthetic
    melt — MRK fugacity + carbonate equilibrium, vectorized bisection
    replacing the reference's per-row 2-D root."""
    from magmapandas_spark.models import volatiles as vol

    # deterministic 1/64 subset: the nested MRK bisection is ~10× the
    # cost of the IM solver; volatile_saturation_im covers the
    # full-table fan-out, this gate covers the Allison kernels (and the
    # recursive-CTE oracle replays every bisection step per row)
    gf = _melt_subset(spark, sf_dir)
    out = vol.volatile_saturation_pressure(
        gf, T_K=1473.15, model="allison2022", species="mixed"
    )
    return out.select(
        "name",
        F.round("P_bar_sat", 4).alias("P_bar_sat"),
        F.round("Xfl", 6).alias("Xfl"),
    )


def q_isobar_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO2-H2O isobar/isopleth grids for the first synthetic-melt
    sample: the reference's itertools.product × process pool
    (``isobars.py:48-85``) as broadcast crossJoin × one UDF stage."""
    from magmapandas_spark.models import volatiles as vol

    gf = synthetic_melt(spark, sf_dir)
    first = gf.df.orderBy("name").limit(1)
    gf1 = GeoFrame(first, units=gf.units, datatype=gf.datatype,
                   species=gf.species)
    out = vol.co2_h2o_isobars(gf1, T_K=1473.15, n_points=8)
    return out.select(
        "name", "P_bar", "x_fluid", "kind",
        F.round("H2O_sol", 6).alias("H2O_sol"),
        F.round("CO2_sol", 6).alias("CO2_sol"),
    )


# ----------------------------------------------------------------------
# Monte-Carlo error propagation
# ----------------------------------------------------------------------


def q_mc_thermometer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo uncertainty on the default melt thermometer:
    replicate ×64 (crossJoin range — narrow), perturb with the md5
    counter RNG (draws keyed on (name, iteration, species) — identical
    under any partitioning, unlike per-partition-seeded randn), re-run
    the thermometer, aggregate mean/std/median per sample in one
    shuffle (SURVEY §4.1 'Monte-Carlo loops'). Exact DuckDB oracle:
    the same md5 Box-Muller draws + the putirka15 closed form."""
    from magmapandas_spark.models import thermometers as tm
    from magmapandas_spark.operators import montecarlo as mc

    gf = synthetic_melt(spark, sf_dir)
    # deterministic 1/256 subset: MC×64 over full lineitem-derived melt
    # is a bench workload, not a correctness gate
    sub = gf.df.filter(F.col("name") % 256 == 0)
    gf_sub = GeoFrame(sub, units=gf.units, datatype=gf.datatype,
                      species=gf.species)

    def compute(g):
        return tm.putirka2008_15(g, P_bar="P_bar")

    out = mc.monte_carlo(
        gf_sub,
        compute,
        errors={"SiO2": 0.3, "MgO": 0.1, "FeO": 0.15},
        n_iterations=64,
        value_cols=("T_K",),
        keys=("name",),
        seed=7,
        percentiles=(0.5,),
        hash_noise=True,
        exact_percentiles=True,
    )
    return out.select(
        "name",
        F.round("T_K_mean", 2).alias("T_K_mean"),
        F.round("T_K_std", 2).alias("T_K_std"),
        F.round("T_K_p5", 2).alias("T_K_p5"),
    ).orderBy("name")


# ----------------------------------------------------------------------
# multi-model coverage with full SQL oracles
# ----------------------------------------------------------------------


def q_thermometers_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four expression-tier thermometers as parallel columns of ONE
    narrow pipeline (putirka13/14, shea2022, sugawara2000_3) — widens
    line-by-line SURVEY §2.8 oracle coverage beyond the default
    putirka15 query."""
    from magmapandas_spark.models import thermometers as tm

    gf = synthetic_melt(spark, sf_dir)

    # chain the four models as appended columns of ONE narrow pipeline
    # (no self-joins: the synthetic `name` key is not unique)
    def chain(g, fn, out_col, **kw):
        df = fn(g, out_col=out_col, **kw)
        return GeoFrame(df, units=g.units, datatype=g.datatype,
                        species=g.species)

    g = chain(gf, tm.putirka2008_13, "T13")
    g = chain(g, tm.putirka2008_14, "T14")
    g = chain(g, tm.shea2022, "Tshea")
    g = chain(g, tm.sugawara2000_3, "Tsug3", P_bar="P_bar")
    return g.df.select(
        "name",
        F.round("T13", 4).alias("T13"),
        F.round("T14", 4).alias("T14"),
        F.round("Tshea", 4).alias("Tshea"),
        F.round("Tsug3", 4).alias("Tsug3"),
    ).orderBy("name")


def _sql_thermometers_multi() -> str:
    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, frac_anh = _sql_mole_fraction_terms(anhyd)
    _, frac_full = _sql_mole_fraction_terms(MELT_SPECIES)
    mg_no = f"({frac_anh['MgO']} / ({frac_anh['MgO']} + {frac_anh['FeO']}))"
    t13 = "26.3 * MgO + 1267.55"
    t14 = (
        f"754.0 + 190.6 * {mg_no} + 25.52 * MgO + 9.585 * FeO"
        f" + 14.87 * (Na2O + K2O) - 9.176 * H2O + 273.15"
    )
    tshea = "21.2 * MgO + 1290.15"
    tsug3 = (
        f"1293.0 + 14.60 * ({frac_anh['MgO']} * 100.0)"
        f" + 5.5e-3 * P_bar - 5.403 * ({frac_full['H2O']} * 100.0)"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({t13}, 4) AS T13,
  ROUND({t14}, 4) AS T14,
  ROUND({tshea}, 4) AS Tshea,
  ROUND({tsug3}, 4) AS Tsug3
FROM melt
ORDER BY name
"""


def q_fe3fe2_expr_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two expression-tier Fe3+/Fe2+ models (borisov2018, oneill2018)
    under 1-bar QFM fO2, T = 1400 + (name % 200)/2 K — the full redox
    dispatch chain with an exact SQL oracle (fO2 polynomial + mole /
    cation fractions are all closed-form)."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    T = t_sweep()
    fO2 = fo2_mod.fo2_qfm_1bar(0.0, T)
    comp = components_expr(gf, [])
    mol = mole_fraction_exprs(comp)
    return gf.df.select(
        "name",
        F.round(T, 4).alias("T_K"),
        F.round(
            fe_mod.fe3fe2_borisov2018(mol, T, fO2), 4
        ).alias("fe3fe2_borisov"),
        F.round(
            fe_mod.fe3fe2_oneill2018(mol, T, fO2), 4
        ).alias("fe3fe2_oneill"),
    ).orderBy("name")


def _sql_fe3fe2_expr_models() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    _, mol = _sql_mole_fraction_terms(MELT_SPECIES)
    cat_terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        for s in MELT_SPECIES
    }
    cat_total = " + ".join(cat_terms.values())
    cat = {}
    for s in MELT_SPECIES:
        n = cation_name(s)
        cat.setdefault(n, []).append(cat_terms[s])
    catf = {
        n: f"(({' + '.join(parts)}) / ({cat_total}))"
        for n, parts in cat.items()
    }
    R = 8.31446261815324
    t = T_EXPR
    mu = (
        f"(-587474.0 + 1584.427 * {t} - 203.3164 * {t} * LN({t})"
        f" + 0.092710 * {t} * {t})"
    )
    log10_fo2 = f"({mu} / ({R!r} * {t}) / LN(10.0))"
    z = "0.0"
    g = lambda d, n: d.get(n, z)
    borisov = (
        f"POW(10.0, 0.207 * {log10_fo2} + 4633.3 / {t}"
        f" - 0.445 * {g(mol,'SiO2')} - 0.900 * {g(mol,'TiO2')}"
        f" + 1.532 * {g(mol,'MgO')} + 0.314 * {g(mol,'CaO')}"
        f" + 2.030 * {g(mol,'Na2O')} + 3.355 * {g(mol,'K2O')}"
        f" - 4.851 * {g(mol,'P2O5')}"
        f" - 3.081 * {g(mol,'SiO2')} * {g(mol,'Al2O3')}"
        f" - 4.370 * {g(mol,'SiO2')} * {g(mol,'MgO')} - 1.852)"
    )
    oneill = (
        f"POW(10.0, 0.25 * ({log10_fo2} - (8.58 - 25050.0 / {t}))"
        f" - 1.36 + 2.4 * {g(catf,'Ca')} + 2.0 * {g(catf,'Na')}"
        f" + 3.7 * {g(catf,'K')} - 2.4 * {g(catf,'P')})"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({t}, 4) AS T_K,
  ROUND({borisov}, 4) AS fe3fe2_borisov,
  ROUND({oneill}, 4) AS fe3fe2_oneill
FROM melt
ORDER BY name
"""


def q_kd_expr_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kd(Fe-Mg) olivine-melt expression models putirka2016_8a-8d as
    parallel columns (``Kd_models.py:422-593``) — inputs are the
    renormalised wt.% oxides, P from the sample column."""
    from magmapandas_spark.models.kd import calculate_FeMg_Kd

    gf = synthetic_melt(spark, sf_dir)

    g = gf
    for model in ("putirka2016_8a", "putirka2016_8b", "putirka2016_8c",
                  "putirka2016_8d"):
        df = calculate_FeMg_Kd(
            g, T_K=F.lit(1673.15), P_bar="P_bar", model=model,
            Fe3Fe2=F.lit(0.2), out_col=f"kd_{model[-2:]}",
        )
        g = GeoFrame(df, units=g.units, datatype=g.datatype,
                     species=g.species)
    return g.df.select(
        "name",
        F.round("kd_8a", 6).alias("kd_8a"),
        F.round("kd_8b", 6).alias("kd_8b"),
        F.round("kd_8c", 6).alias("kd_8c"),
        F.round("kd_8d", 6).alias("kd_8d"),
    ).orderBy("name")


def _sql_kd_expr_models() -> str:
    total = " + ".join(MELT_SPECIES)
    w = {s: f"({s} / ({total}) * 100.0)" for s in MELT_SPECIES}
    alk2 = f"POW({w['Na2O']} + {w['K2O']}, 2.0)"
    p_gpa = "(P_bar / 1e4)"
    kd_8b = (
        f"0.21 + 8e-3 * {p_gpa} + 2.5e-3 * {w['SiO2']}"
        f" - 3.63e-4 * {alk2}"
    )
    kd_8c = f"0.25 + 1.8e-3 * {w['SiO2']} - 3.27e-4 * {alk2}"
    al_no = f"({w['Al2O3']} / ({w['Al2O3']} + {w['SiO2']}))"
    kd_8d = (
        f"0.6 + 1.3e-2 * {p_gpa} + 1.6e-2 * {w['SiO2']}"
        f" - 1.73e-4 * POW({w['SiO2']}, 2.0) + 1.79e-2 * {w['Al2O3']}"
        f" - 2.6 * {al_no} + 2.11e-1 * LN({al_no})"
        f" + 3.19e-5 * POW({w['Na2O']} + {w['K2O']}, 3.0)"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND(0.33, 6) AS kd_8a,
  ROUND({kd_8b}, 6) AS kd_8b,
  ROUND({kd_8c}, 6) AS kd_8c,
  ROUND({kd_8d}, 6) AS kd_8d
FROM melt
ORDER BY name
"""


def q_olmelt_thermometer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Putirka (2007) eq. 4 olivine-liquid thermometer
    (``thermometers/ol_melt.py:22-118``): the reference's pandas index
    alignment as an inner equi-join of the synthetic olivine (from
    part) with the synthetic melt (from lineitem) on the sample key."""
    from magmapandas_spark.models.thermometers import putirka2007_4

    melt = synthetic_melt(spark, sf_dir)
    ol = synthetic_olivine(spark, sf_dir)
    out = putirka2007_4(melt, ol, P_bar="P_bar")
    return out.select(
        "name", F.round("T_K", 4).alias("T_K")
    ).orderBy("name")


def _sql_olmelt_thermometer() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    def cation_fracs(species, prefix=""):
        terms = {
            s: f"(({prefix}{s} / {calculate_weight(s)!r})"
            f" * {cation_amount(s)!r})"
            for s in species
        }
        total = " + ".join(terms.values())
        out: dict[str, list] = {}
        for s in species:
            out.setdefault(cation_name(s), []).append(terms[s])
        return {
            n: f"(({' + '.join(parts)}) / ({total}))"
            for n, parts in out.items()
        }

    liq_species = [s for s in MELT_SPECIES if s != "H2O"]

    def mole_fracs(species, prefix=""):
        terms = [f"({prefix}{s} / {calculate_weight(s)!r})" for s in species]
        total = " + ".join(terms)
        return {
            s: f"(({prefix}{s} / {calculate_weight(s)!r}) / ({total}))"
            for s in species
        }

    mol = mole_fracs(liq_species, prefix="melt.")
    cat = cation_fracs(liq_species, prefix="melt.")
    ol_cat = cation_fracs(OLIVINE_SPECIES, prefix="ol.")

    z = "0.0"
    g = lambda d, n: d.get(n, z)
    c_nm = (
        f"({g(cat,'Fe')} + {g(cat,'Mn')} + {g(cat,'Mg')} + {g(cat,'Ca')})"
    )
    nf = (
        f"(3.5 * LN(1.0 - {g(cat,'Al')}) + 7.0 * LN(1.0 - {g(cat,'Ti')}))"
    )
    d_mg = f"({g(ol_cat,'Mg')} / {g(cat,'Mg')})"
    p_gpa = "(melt.P_bar / 1e4)"
    num = f"(15294.6 + 1318.8 * {p_gpa} + 2.4834 * {p_gpa} * {p_gpa})"
    den = (
        f"(8.048 + 2.8532 * LN({d_mg}) + 2.097 * LN(1.5 * {c_nm})"
        f" + 2.575 * LN(3.0 * {mol['SiO2']}) - 1.41 * {nf}"
        f" + 0.222 * melt.H2O + 0.5 * {p_gpa})"
    )
    return f"""
WITH {SQL_MELT_CTE},
olivine AS (
  SELECT
    p_partkey AS name,
    39.0 + (p_partkey % 30) * 0.05 AS SiO2,
    42.0 + (p_size % 20) * 0.25 AS MgO,
    10.0 + (p_partkey % 80) * 0.1 AS FeO,
    0.1 + (p_size % 5) * 0.05 AS MnO,
    0.25 AS NiO,
    0.05 + (p_partkey % 3) * 0.05 AS CaO
  FROM part
)
SELECT melt.name AS name,
  ROUND({num} / {den} + 273.15 + 29.0 * 0.0, 4) AS T_K
FROM melt
JOIN olivine ol ON melt.name = ol.name
ORDER BY name
"""


def q_unit_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoFrame unit-conversion chain (SURVEY §2.7): wt.% → normalised
    mol fractions (``magmaFrame.py:356-385``), oxide → cation fractions
    with renaming (``magmaFrame.py:225-264``), wt.% → ppm — all as one
    narrow expression pipeline, exact SQL oracle."""
    gf = synthetic_melt(spark, sf_dir)
    # single narrow plan (no joins: the synthetic key is non-unique)
    base = gf.df.select(
        "name",
        (F.col("H2O") * F.lit(1e4)).alias("H2O_ppm"),
        *[F.col(s).alias(f"__w_{s}") for s in gf.species],
    )
    # recompute mol/cat fractions inline over the aliased wt columns
    mol_terms = {
        s: F.col(f"__w_{s}") / F.lit(chem.calculate_weight(s))
        for s in gf.species
    }
    mol_total = None
    for c in mol_terms.values():
        mol_total = c if mol_total is None else mol_total + c
    cat_terms: dict = {}
    for s in gf.species:
        n = chem.cation_name(s)
        e = mol_terms[s] * F.lit(chem.cation_amount(s))
        cat_terms[n] = cat_terms[n] + e if n in cat_terms else e
    cat_total = None
    for c in cat_terms.values():
        cat_total = c if cat_total is None else cat_total + c
    return base.select(
        "name",
        F.round(mol_terms["SiO2"] / mol_total, 6).alias("mol_SiO2"),
        F.round(mol_terms["MgO"] / mol_total, 6).alias("mol_MgO"),
        F.round(cat_terms["Si"] / cat_total, 6).alias("cat_Si"),
        F.round(cat_terms["Na"] / cat_total, 6).alias("cat_Na"),
        F.round("H2O_ppm", 4).alias("H2O_ppm"),
    ).orderBy("name")


def _sql_unit_conversions() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    _, mol = _sql_mole_fraction_terms(MELT_SPECIES)
    cat_terms: dict = {}
    for s in MELT_SPECIES:
        n = cation_name(s)
        t = f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        cat_terms.setdefault(n, []).append(t)
    cat_total = " + ".join(t for parts in cat_terms.values() for t in parts)
    cat = {
        n: f"(({' + '.join(parts)}) / ({cat_total}))"
        for n, parts in cat_terms.items()
    }
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({mol['SiO2']}, 6) AS mol_SiO2,
  ROUND({mol['MgO']}, 6) AS mol_MgO,
  ROUND({cat['Si']}, 6) AS cat_Si,
  ROUND({cat['Na']}, 6) AS cat_Na,
  ROUND(H2O * 1e4, 4) AS H2O_ppm
FROM melt
ORDER BY name
"""


def q_melt_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt structural parameters (``core/MagmaFrames/melt.py:113-160``,
    ``magmaFrame.py:315-338``): tetrahedral cations, oxygen per cation,
    NBO and NBO/T — pure cation-fraction expressions with an exact SQL
    oracle."""
    from magmapandas_spark.models.minerals import (
        oxygen_per_cation_expr,
        tetrahedral_cations_expr,
    )

    gf = synthetic_melt(spark, sf_dir)
    # materialize tet/oxy once — inlining them into 4 output columns
    # duplicates the deep cation-fraction expression trees ~6×
    stage = gf.df.select(
        "name",
        tetrahedral_cations_expr(gf).alias("__tet"),
        oxygen_per_cation_expr(gf).alias("__oxy"),
    )
    tet, oxy = F.col("__tet"), F.col("__oxy")
    return stage.select(
        "name",
        F.round(tet, 6).alias("tetrahedral"),
        F.round(oxy, 6).alias("o_per_cation"),
        F.round(F.lit(2.0) * oxy - F.lit(4.0) * tet, 6).alias("NBO"),
        F.round((F.lit(2.0) * oxy - F.lit(4.0) * tet) / tet, 6).alias(
            "NBO_T"
        ),
    ).orderBy("name")


def _sql_melt_structure() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
        oxygen_amount,
    )

    cat_terms: dict = {}
    ratios: dict = {}
    for s in MELT_SPECIES:
        n = cation_name(s)
        t = f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        cat_terms.setdefault(n, []).append(t)
        ratios[n] = oxygen_amount(s) / cation_amount(s)
    total = " + ".join(t for parts in cat_terms.values() for t in parts)
    cat = {
        n: f"(({' + '.join(parts)}) / ({total}))"
        for n, parts in cat_terms.items()
    }
    tet = " + ".join(cat[n] for n in ("Si", "Ti", "Al", "P") if n in cat)
    oxy = " + ".join(f"({cat[n]} * {ratios[n]!r})" for n in cat)
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND(({tet}), 6) AS tetrahedral,
  ROUND(({oxy}), 6) AS o_per_cation,
  ROUND(2.0 * ({oxy}) - 4.0 * ({tet}), 6) AS NBO,
  ROUND((2.0 * ({oxy}) - 4.0 * ({tet})) / ({tet}), 6) AS NBO_T
FROM melt
ORDER BY name
"""


def q_thermometers_multi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining expression-tier melt thermometers (putirka2008_16,
    putirka2008_22 with Beattie D_Mg, sun2020 on the cation-per-oxygen
    basis) — completes oracle coverage of the SURVEY §2.8 thermometer
    table (sugawara2000_6a shares sugawara2000_3's structure)."""
    from magmapandas_spark.models import thermometers as tm

    gf = synthetic_melt(spark, sf_dir)

    def chain(g, fn, out_col, **kw):
        df = fn(g, out_col=out_col, **kw)
        return GeoFrame(df, units=g.units, datatype=g.datatype,
                        species=g.species)

    g = chain(gf, tm.putirka2008_16, "T16", P_bar="P_bar")
    g = chain(g, tm.putirka2008_22, "T22", P_bar="P_bar")
    g = chain(g, tm.sun2020, "Tsun", P_bar="P_bar")
    return g.df.select(
        "name",
        F.round("T16", 4).alias("T16"),
        F.round("T22", 4).alias("T22"),
        F.round("Tsun", 4).alias("Tsun"),
    ).orderBy("name")


def _sql_thermometers_multi2() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
        oxygen_amount,
    )

    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, mol_anh = _sql_mole_fraction_terms(anhyd)
    p_gpa = "(P_bar / 1e4)"

    t16 = (
        f"-583.0 + 3141.0 * {mol_anh['SiO2']}"
        f" + 15779.0 * {mol_anh['Al2O3']} + 1338.6 * {mol_anh['MgO']}"
        f" - 31440.0 * {mol_anh['SiO2']} * {mol_anh['Al2O3']}"
        f" + 77.67 * {p_gpa} + 273.15"
    )

    # cation fractions excluding H2O (CO2 contributes C to the total)
    cat_terms: dict = {}
    for s in anhyd:
        n = cation_name(s)
        t = f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        cat_terms.setdefault(n, []).append(t)
    total = " + ".join(t for parts in cat_terms.values() for t in parts)
    cat = {
        n: f"(({' + '.join(parts)}) / ({total}))"
        for n, parts in cat_terms.items()
    }
    z = "0.0"
    g = lambda n: cat.get(n, z)
    # Beattie (1993): (a, b) per cation — Mg (1.0, 0.0), Mn (0.259,
    # -4.9e-2), Fe (0.299, 2.7e-2); Co/Ni absent from the species set
    num = f"(0.666 - (-4.9e-2 * {g('Mn')} + 2.7e-2 * {g('Fe')}))"
    den = f"(1.0 * {g('Mg')} + 0.259 * {g('Mn')} + 0.299 * {g('Fe')})"
    ln_dmg = f"LN({num} / {den})"
    c_nm = f"({g('Fe')} + {g('Mn')} + {g('Mg')} + {g('Ca')})"
    nf = f"(3.5 * LN(1.0 - {g('Al')}) + 7.0 * LN(1.0 - {g('Ti')}))"
    t22 = (
        f"(15294.6 + 1318.8 * {p_gpa} + 2.4834 * {p_gpa} * {p_gpa})"
        f" / (8.048 + 2.8352 * {ln_dmg} + 2.097 * LN(1.5 * {c_nm})"
        f" + 2.575 * LN(3.0 * {g('Si')}) - 1.41 * {nf}"
        f" + 0.222 * H2O + 0.5 * {p_gpa}) + 273.15"
    )

    # sun2020: cation moles per oxygen over the volatile-free oxides
    # (mole-fraction normalisation cancels in o_moles/total_o)
    oxides = [s for s in MELT_SPECIES if s not in ("H2O", "CO2")]
    o_terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {oxygen_amount(s)!r})"
        for s in oxides
    }
    o_total = " + ".join(o_terms.values())
    per_ox = {}
    for s in oxides:
        cpo = cation_amount(s) / oxygen_amount(s)
        from fractions import Fraction as _Fr

        name = f"{cation_name(s)}{_Fr(cpo).limit_denominator()}O"
        per_ox[name] = f"(({o_terms[s]} / ({o_total})) * {cpo!r})"
    u = lambda n: per_ox.get(n, z)
    omega = (
        f"(2.59 + 3.5 * ({u('Ca1O')} - 2.0 * {u('K2O')})"
        f" + 4.85 * {u('Ti1/2O')}"
        f" + 1.4 * ({u('Mg1O')} / ({u('Mg1O')} + {u('Fe1O')}))"
        f" + 0.5 * {u('Mg1O')} * SQRT(CO2) + 5.7e-2 * H2O)"
    )
    tsun = (
        f"1e4 / ({omega} - 0.34 * SQRT({p_gpa})"
        f" - 1.26 * LN({u('Mg1O')}))"
    )

    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({t16}, 4) AS T16,
  ROUND({t22}, 4) AS T22,
  ROUND({tsun}, 4) AS Tsun
FROM melt
ORDER BY name
"""


# ----------------------------------------------------------------------
# Fe-Ti oxide minerals: endmembers + Fe speciation (expr tier)
# ----------------------------------------------------------------------


MT_SPECIES = ["TiO2", "Al2O3", "MgO", "MnO", "FeO"]


SQL_MT_CTE = """
mt AS (
  SELECT
    s_suppkey AS name,
    5.0 + (s_suppkey % 15) * 0.5 AS TiO2,
    1.0 + (s_suppkey % 8) * 0.25 AS Al2O3,
    0.5 + (s_suppkey % 5) * 0.2 AS MgO,
    0.3 + (s_suppkey % 4) * 0.1 AS MnO,
    70.0 + (s_suppkey % 20) * 0.3 AS FeO
  FROM supplier
)
"""


def _synthetic_mt(spark: SparkSession, sf_dir: str):
    sup = spark.read.parquet(_t(sf_dir, "supplier"))
    df = sup.select(
        F.col("s_suppkey").alias("name"),
        (F.lit(5.0) + (F.col("s_suppkey") % 15) * F.lit(0.5)).alias("TiO2"),
        (F.lit(1.0) + (F.col("s_suppkey") % 8) * F.lit(0.25)).alias("Al2O3"),
        (F.lit(0.5) + (F.col("s_suppkey") % 5) * F.lit(0.2)).alias("MgO"),
        (F.lit(0.3) + (F.col("s_suppkey") % 4) * F.lit(0.1)).alias("MnO"),
        (F.lit(70.0) + (F.col("s_suppkey") % 20) * F.lit(0.3)).alias("FeO"),
    )
    return GeoFrame(df, units="wt.%", datatype="oxide",
                    species=MT_SPECIES)


def _sql_mt_cations(norm_to: float) -> dict:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        for s in MT_SPECIES
    }
    total = " + ".join(terms.values())
    return {
        cation_name(s): f"(({terms[s]} / ({total})) * {norm_to!r})"
        for s in MT_SPECIES
    }


def q_magnetite_speciation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magnetite-ulvospinel endmembers + Fe3/Fe2 split at 3-cation
    normalisation, Lindsley/QUILF (``magnetite.py:17-117``)."""
    from magmapandas_spark.models.minerals import (
        magnetite_endmembers,
        magnetite_fe_speciation,
    )

    gf = _synthetic_mt(spark, sf_dir)
    em = magnetite_endmembers(gf).select("name", "magnetite", "ulvospinel")
    sp = magnetite_fe_speciation(gf).select("name", "cat_Fe2", "cat_Fe3")
    # supplier keys are unique -> the join is safe (1:1)
    out = em.join(sp, "name")
    return out.select(
        "name",
        F.round("magnetite", 6).alias("magnetite"),
        F.round("ulvospinel", 6).alias("ulvospinel"),
        F.round("cat_Fe2", 6).alias("cat_Fe2"),
        F.round("cat_Fe3", 6).alias("cat_Fe3"),
    ).orderBy("name")


def _sql_magnetite_speciation() -> str:
    cat = _sql_mt_cations(3.0)
    g = lambda n: cat.get(n, "0.0")
    magnetite = (
        f"((({g('Mg')} + {g('Mn')} + {g('Fe')})"
        f" - 2.0 * {g('Ti')} - {g('Al')} / 2.0) / 3.0)"
    )
    mg_ulv = f"({g('Mg')} / 2.0)"
    mn_ulv = f"({g('Mn')} / 2.0)"
    ulv = f"({g('Ti')} - {mn_ulv} - {mg_ulv})"
    total = f"({magnetite} + {ulv} + {mg_ulv})"
    ulv_frac = f"(({ulv} + {mg_ulv}) / {total})"
    fe3 = f"(2.0 * {magnetite})"
    fe2 = (
        f"({magnetite} + 2.0 * {g('Ti')} + {g('Al')} / 2.0"
        f" - {g('Mg')} - {g('Mn')})"
    )
    return f"""
WITH {SQL_MT_CTE}
SELECT name,
  ROUND(1.0 - {ulv_frac}, 6) AS magnetite,
  ROUND({ulv_frac}, 6) AS ulvospinel,
  ROUND({fe2}, 6) AS cat_Fe2,
  ROUND({fe3}, 6) AS cat_Fe3
FROM mt
ORDER BY name
"""


def q_ilmenite_speciation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ilmenite endmembers (Andersen/QUILF) + Fe3/Fe2 split at 2-cation
    normalisation (``ilmenite.py:17-97``) on the same synthetic Fe-Ti
    oxide table."""
    from magmapandas_spark.models.minerals import (
        ilmenite_endmembers,
        ilmenite_fe_speciation,
    )

    gf = _synthetic_mt(spark, sf_dir)
    em = ilmenite_endmembers(gf).select(
        "name", "hematite", "ilmenite", "geikielite", "pyrophanite"
    )
    sp = ilmenite_fe_speciation(gf).select("name", "cat_Fe2", "cat_Fe3")
    out = em.join(sp, "name")  # supplier keys unique -> 1:1
    return out.select(
        "name",
        F.round("hematite", 6).alias("hematite"),
        F.round("ilmenite", 6).alias("ilmenite"),
        F.round("geikielite", 6).alias("geikielite"),
        F.round("pyrophanite", 6).alias("pyrophanite"),
        F.round("cat_Fe2", 6).alias("cat_Fe2"),
        F.round("cat_Fe3", 6).alias("cat_Fe3"),
    ).orderBy("name")


def _sql_ilmenite_speciation() -> str:
    cat = _sql_mt_cations(2.0)
    g = lambda n: cat.get(n, "0.0")
    hematite = f"((({g('Fe')} + {g('Mg')} + {g('Mn')}) - {g('Ti')}) / 2.0)"
    fe2 = f"({g('Ti')} - {g('Mg')} - {g('Mn')})"
    ilmenite = f"({fe2} + {g('Al')} / 2.0)"
    total = f"({hematite} + {ilmenite} + {g('Mn')} + {g('Mg')})"
    fe3 = f"(2.0 * {hematite})"
    return f"""
WITH {SQL_MT_CTE}
SELECT name,
  ROUND({hematite} / {total}, 6) AS hematite,
  ROUND({ilmenite} / {total}, 6) AS ilmenite,
  ROUND({g('Mg')} / {total}, 6) AS geikielite,
  ROUND({g('Mn')} / {total}, 6) AS pyrophanite,
  ROUND({fe2}, 6) AS cat_Fe2,
  ROUND({fe3}, 6) AS cat_Fe3
FROM mt
ORDER BY name
"""


PLAG_SPECIES = ["SiO2", "Al2O3", "CaO", "Na2O", "K2O"]


SQL_PLAG_CTE = """
plag AS (
  SELECT
    c_custkey AS name,
    52.0 + (c_custkey % 12) * 0.5 AS SiO2,
    26.0 + (c_custkey % 9) * 0.4 AS Al2O3,
    8.0 + (c_custkey % 11) * 0.5 AS CaO,
    3.0 + (c_custkey % 6) * 0.4 AS Na2O,
    0.2 + (c_custkey % 4) * 0.15 AS K2O
  FROM customer
)
"""


def q_plag_endmembers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagioclase An/Ab/Or endmembers + anorthite content
    (``plagioclase.py:28-52``) on a synthetic feldspar table from
    customer."""
    from magmapandas_spark.models.minerals import (
        plagioclase_anorthite,
        plagioclase_endmembers,
    )

    cust = spark.read.parquet(_t(sf_dir, "customer"))
    df = cust.select(
        F.col("c_custkey").alias("name"),
        (F.lit(52.0) + (F.col("c_custkey") % 12) * F.lit(0.5)).alias("SiO2"),
        (F.lit(26.0) + (F.col("c_custkey") % 9) * F.lit(0.4)).alias("Al2O3"),
        (F.lit(8.0) + (F.col("c_custkey") % 11) * F.lit(0.5)).alias("CaO"),
        (F.lit(3.0) + (F.col("c_custkey") % 6) * F.lit(0.4)).alias("Na2O"),
        (F.lit(0.2) + (F.col("c_custkey") % 4) * F.lit(0.15)).alias("K2O"),
    )
    gf = GeoFrame(df, units="wt.%", datatype="oxide", species=PLAG_SPECIES)
    em = plagioclase_endmembers(gf).select(
        "name", "anorthite", "albite", "orthoclase"
    )
    an = plagioclase_anorthite(gf).select("name", "An")
    out = em.join(an, "name")  # customer keys unique -> 1:1
    return out.select(
        "name",
        F.round("anorthite", 6).alias("anorthite"),
        F.round("albite", 6).alias("albite"),
        F.round("orthoclase", 6).alias("orthoclase"),
        F.round("An", 6).alias("An"),
    ).orderBy("name")


def _sql_plag_endmembers() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    terms = {
        s: f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        for s in PLAG_SPECIES
    }
    total = " + ".join(terms.values())
    cat = {
        cation_name(s): f"({terms[s]} / ({total}))" for s in PLAG_SPECIES
    }
    tot_cnk = f"({cat['Ca']} + {cat['Na']} + {cat['K']})"
    return f"""
WITH {SQL_PLAG_CTE}
SELECT name,
  ROUND({cat['Ca']} * 100.0 / {tot_cnk}, 6) AS anorthite,
  ROUND({cat['Na']} * 100.0 / {tot_cnk}, 6) AS albite,
  ROUND({cat['K']} * 100.0 / {tot_cnk}, 6) AS orthoclase,
  ROUND({cat['Ca']} * 100.0 / ({cat['Ca']} + {cat['Na']}), 6) AS An
FROM plag
ORDER BY name
"""


def q_feo_fe2o3_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeO/Fe2O3 split from a fixed Fe3+/Fe2+ ratio in mol space, back
    to renormalised wt.% (``melt.py:225-274``) + observed olivine-melt
    Kd against the synthetic olivine (``Kd_calculate.py:12-62``)."""
    from magmapandas_spark.models.kd import observed_FeMg_Kd
    from magmapandas_spark.models.minerals import forsterite

    gf = synthetic_melt(spark, sf_dir)
    ol = synthetic_olivine(spark, sf_dir)
    fo = forsterite(ol).select("name", "Fo")

    # ONE plan: join Fo once (unique part keys — no multiplication),
    # compute observed Kd on the original wt columns, THEN the Fe split
    joined = GeoFrame(
        gf.df.join(F.broadcast(fo), "name"),
        units=gf.units, datatype=gf.datatype, species=gf.species,
    )
    with_kd = observed_FeMg_Kd(
        joined, F.col("Fo"), T_K=F.lit(1500.0), P_bar=F.lit(1.0),
        Fe3Fe2=F.lit(0.237),
    )
    gf2 = GeoFrame(with_kd, units=joined.units, datatype=joined.datatype,
                   species=joined.species)
    split = gf2.FeO_Fe2O3_calc(0.237)  # Kd_observed rides along as extra
    return split.df.select(
        "name",
        F.round("FeO", 6).alias("FeO_wt"),
        F.round("Fe2O3", 6).alias("Fe2O3_wt"),
        F.round("Kd_observed", 6).alias("Kd_observed"),
    ).orderBy("name")


def _sql_feo_fe2o3_split() -> str:
    from magmapandas_spark.chem.elements import calculate_weight

    _, mol = _sql_mole_fraction_terms(MELT_SPECIES)
    q = "(1.0 / (1.0 + 0.237))"  # Fe2+ fraction, Fe3Fe2 = 0.237
    # (non-dyadic ratio: avoids exact ROUND ties that half-up vs
    # half-even tie-breaking would split across engines)
    out_terms = {}
    for s in MELT_SPECIES:
        if s == "FeO":
            out_terms["FeO"] = f"({mol['FeO']} * {q})"
        else:
            out_terms[s] = mol[s]
    out_terms["Fe2O3"] = f"({mol['FeO']} * (1.0 - {q}) / 2.0)"
    wt_terms = {
        s: f"({e} * {calculate_weight(s)!r})" for s, e in out_terms.items()
    }
    wt_total = " + ".join(wt_terms.values())
    feo_wt = f"({wt_terms['FeO']} / ({wt_total}) * 100.0)"
    fe2o3_wt = f"({wt_terms['Fe2O3']} / ({wt_total}) * 100.0)"

    # mirror minerals.forsterite exactly: mole fractions over the FULL
    # olivine species set, Fo = MgO / (FeO + MgO) in that order
    ol_terms = {
        s: f"(ol.ol_{s} / {calculate_weight(s)!r})" for s in OLIVINE_SPECIES
    }
    ol_total = " + ".join(ol_terms.values())
    ol_mol = {s: f"({t} / ({ol_total}))" for s, t in ol_terms.items()}
    fo = f"({ol_mol['MgO']} / ({ol_mol['FeO']} + {ol_mol['MgO']}))"
    kd = (
        f"(({mol['MgO']} / ({mol['FeO']} * {q}))"
        f" / ({fo} / (1.0 - {fo})))"
    )
    return f"""
WITH {SQL_MELT_CTE},
olivine AS (
  SELECT
    p_partkey AS name,
    39.0 + (p_partkey % 30) * 0.05 AS ol_SiO2,
    42.0 + (p_size % 20) * 0.25 AS ol_MgO,
    10.0 + (p_partkey % 80) * 0.1 AS ol_FeO,
    0.1 + (p_size % 5) * 0.05 AS ol_MnO,
    0.25 AS ol_NiO,
    0.05 + (p_partkey % 3) * 0.05 AS ol_CaO
  FROM part
)
SELECT melt.name AS name,
  ROUND({feo_wt}, 6) AS FeO_wt,
  ROUND({fe2o3_wt}, 6) AS Fe2O3_wt,
  ROUND({kd}, 6) AS Kd_observed
FROM melt
JOIN olivine ol ON melt.name = ol.name
ORDER BY name
"""


def q_calibration_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-range + temperature-sanity predicates as queryable
    flags (``tools/calibration_range.py:10-46``,
    ``thermometers/validate_temperatures.py:6-21``): the reference
    eagerly warns; at scale the predicate is a column aggregated
    without any driver collect."""
    from magmapandas_spark.models import thermometers as tm
    from magmapandas_spark.models.thermometers import calibration_flag

    gf = synthetic_melt(spark, sf_dir)
    flag = calibration_flag(gf, "putirka2008_15")
    with_t = tm.putirka2008_15(gf, P_bar="P_bar")
    return (
        with_t.withColumn("in_range", flag)
        .withColumn(
            "t_valid", F.col("T_K").isNotNull() & ~F.isnan("T_K")
            & (F.col("T_K") >= 0),
        )
        .groupBy("in_range", "t_valid")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(
                F.sum(F.col("T_K").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_T_K"),
        )
        .orderBy("in_range", "t_valid")
    )


def _sql_calibration_flags() -> str:
    t_k = _sql_putirka15_raw()
    in_range = (
        "(SiO2 BETWEEN 31.0 AND 73.64"
        " AND (Na2O + K2O) BETWEEN 0.0 AND 14.3"
        " AND H2O BETWEEN 0.0 AND 18.6)"
    )
    return f"""
WITH {SQL_MELT_CTE},
flagged AS (
  SELECT {in_range} AS in_range,
         ({t_k} IS NOT NULL AND NOT isnan({t_k}) AND {t_k} >= 0)
           AS t_valid,
         {t_k} AS T_K
  FROM melt
)
SELECT in_range, t_valid,
  COUNT(*) AS n_samples,
  ROUND(CAST(SUM(CAST(T_K AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
    AS avg_T_K
FROM flagged
GROUP BY in_range, t_valid
ORDER BY in_range, t_valid
"""


# ----------------------------------------------------------------------
# solver-tier queries (per-row fixed points / EOS integrals)
# ----------------------------------------------------------------------


def _melt_subset(spark, sf_dir, modulus=64):
    """The melt rows whose ``name`` is a multiple of ``modulus`` (every
    row at 1), as they lie in the persisted melt. A per-row model over
    them keeps their order and needs no exchange; each row carries its
    ``name``, so the gate needs no order at all."""
    gf = synthetic_melt(spark, sf_dir)
    df = gf.df if modulus == 1 else gf.df.filter(F.col("name") % modulus == 0)
    return GeoFrame(df, units=gf.units, datatype=gf.datatype,
                    species=gf.species)


def q_fe3fe2_deng2020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deng2020 thermodynamic Fe3+/Fe2+ (BM4-EOS volume solve + ΔV
    trapezoid integration + per-row fixed point,
    ``Fe3Fe2_models.py:419-761``) as one Arrow-vectorized UDF stage
    over a deterministic 1/64 sample subset. 1-bar QFM buffer so the
    exact recursive-CTE oracle covers the whole deng chain (the exact
    QFM(T,P) EOS path is golden-tested separately)."""
    from magmapandas_spark.models import fe3fe2 as fe_mod

    gf = _melt_subset(spark, sf_dir)
    T = t_sweep()
    out = fe_mod.calculate_Fe3Fe2(
        gf, T_K=T, P_bar="P_bar", model="deng2020", fO2_buffer="QFM_1bar",
        dfO2=1.0,
    )
    return out.select("name", F.round("Fe3Fe2", 6).alias("Fe3Fe2"))


def q_kd_toplis_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toplis2005 Kd with the forsterite fixed-point iteration
    (``Kd_models.py:222-268``, ``Kd_iterate.py:103-174``) — per-row
    convergence masks inside one pandas-UDF batch, never a driver-side
    multi-job loop (SURVEY §7 risk 5)."""
    from magmapandas_spark.models.kd import calculate_FeMg_Kd

    gf = _melt_subset(spark, sf_dir)
    out = calculate_FeMg_Kd(
        gf, T_K=F.lit(1500.0), P_bar="P_bar", model="toplis2005",
        Fe3Fe2=F.lit(0.2),
    )
    return out.select("name", F.round("Kd", 6).alias("Kd"))


def q_fo2_buffers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All eight closed-form fO2 buffer parameterizations over the melt
    (T,P) grid in one projection — NNO (Campbell 2009, O'Neill &
    Pownceby 1993, Frost 1991), Ru-RuO2 (Armstrong 2019), IW (Campbell
    2009, Fe-FeO0.94 O'Neill-Huebner, Zhang 2017 blend, O'Neill 1993
    piecewise). Output as ROUND(log10 fO2, 6): the buffers span ~30
    orders of magnitude, so the hash compares log-space values. These
    were golden-tested only until now; this row gives them exact
    cross-engine oracles."""
    from magmapandas_spark.models import fo2 as fo2_mod

    gf = synthetic_melt(spark, sf_dir)
    T = t_sweep()
    P = F.col("P_bar")
    out = {
        "nno": fo2_mod.fo2_nno(0.0, T, P),
        "nno_1bar": fo2_mod.fo2_nno_1bar(0.0, T),
        "nno_frost": fo2_mod.fo2_nno_frost(0.0, T, P),
        "ruruo2": fo2_mod.fo2_ruruo2(0.0, T, P),
        "iw_campbell": fo2_mod.fo2_iw_campbell(0.0, T, P),
        "iw_fefeo94": fo2_mod.fo2_fefeo94_oneill_huebner(0.0, T, P),
        "iw_zhang": fo2_mod.fo2_iw_zhang(0.0, T, P),
        "iw_oneill93": fo2_mod.fo2_iw_oneill1993(T),
    }
    return gf.df.select(
        "name",
        *[F.round(F.log10(c), 6).alias(n) for n, c in out.items()],
    ).orderBy("name")


def _sql_fo2_buffers() -> str:
    from magmapandas_spark.models.fo2 import LN10, R

    t = T_EXPR
    pg = "(P_bar / 10000.0)"       # GPa-ish scaling used by nno/ruruo2
    pm = "(P_bar * 0.0001)"        # the *1e-4 variant (iw buffers)
    off = ""  # logshift 0 → multiplier 10^0 == 1.0, identity in IEEE
    nno = (
        f"POWER(10.0, (8.699 + 0.01642*{pg} - 0.0003*POWER({pg},2)"
        f" + 2.7e-06*POWER({pg},3) - 1e-08*POWER({pg},4))"
        f" + (-24205.0 + 444.73*{pg} - 0.5929*POWER({pg},2)"
        f" + 0.00153*POWER({pg},3)) / {t}){off}"
    )
    nno_1bar = (
        f"EXP((-478967.0 + 248.514*{t} - 9.7961*LN({t}))"
        f" / ({R!r} * {t})){off}"
    )
    nno_frost = (
        f"POWER(10.0, -24930.0/{t} + 9.36 + 0.046*(P_bar - 1)/{t}){off}"
    )
    ruruo2 = (
        f"POWER(10.0, (7.782 - 0.00996*{pg} + 0.001932*POWER({pg},2)"
        f" - 3.76e-05*POWER({pg},3))"
        f" + (-13763.0 + 592.0*{pg} - 3.955*POWER({pg},2)) / {t}"
        f" + (-1050000.0 - 4622.0*{pg}) / POWER({t},2)){off}"
    )
    iw_campbell = (
        f"POWER(10.0, (6.54106 + 0.00123*{pm})"
        f" + (-28164.0 + 546.32*{pm} - 1.1341*POWER({pm},2)"
        f" + 0.00193*POWER({pm},3)) / {t}){off}"
    )
    iw_fefeo94 = (
        f"POWER(10.0, (-28777.89/{t} + 14.0572)"
        f" + (-2.039*(LN({t})/{LN10!r})"
        f" + 550.0*({pm} - 0.0001)/{t})){off}"
    )
    w = "(0.2 * P_bar / 10000.0)"
    iw_zhang = (
        f"CASE WHEN P_bar < 50000.0 THEN POWER(10.0,"
        f" (LN({iw_fefeo94})/{LN10!r}) * (1.0 - {w})"
        f" + {w} * (LN({iw_campbell})/{LN10!r}))"
        f" ELSE {iw_campbell} END"
    )
    mu_low = (
        f"(-605568.0 + 1366.42*{t} - 182.7955*LN({t})*{t}"
        f" + 0.10359*POWER({t},2))"
    )
    mu_mid = f"(-519113.0 + 59.129*{t} + 8.9276*LN({t})*{t})"
    mu_high = f"(-550915.0 + 269.106*{t} - 16.9484*LN({t})*{t})"
    iw_oneill93 = (
        f"EXP((CASE WHEN {t} < 1042.0 THEN {mu_low}"
        f" WHEN {t} <= 1184.0 THEN {mu_mid}"
        f" ELSE {mu_high} END) / ({R!r} * {t})){off}"
    )

    cols = {
        "nno": nno,
        "nno_1bar": nno_1bar,
        "nno_frost": nno_frost,
        "ruruo2": ruruo2,
        "iw_campbell": iw_campbell,
        "iw_fefeo94": iw_fefeo94,
        "iw_zhang": iw_zhang,
        "iw_oneill93": iw_oneill93,
    }
    sel = ",\n  ".join(
        f"ROUND(LOG10({e}), 6) AS {n}" for n, e in cols.items()
    )
    return f"""
WITH {SQL_MELT_CTE.strip()}
SELECT name,
  {sel}
FROM melt
ORDER BY name
"""


def q_qfm_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QFM fO2(T,P) — Tait EOS + Landau transitions + the three
    phase-transition pressure solves (quartz→coesite→stishovite,
    fayalite→ringwoodite), the reference's heaviest fO2 path
    (``fO2/QFM.py:187-239``), previously golden-tested only.

    The (T,P) gate grid extends to 120 kbar so every piecewise branch
    (coesite, stishovite and ringwoodite segments) is actually
    exercised — melt pressures alone (≤5 kbar) never cross a
    transition. The oracle replays the identical 80-step bisections as
    recursive CTEs over the distinct temperatures with all
    T-independent EOS constants inlined as numpy-computed literals."""
    from magmapandas_spark.models import fo2 as fo2_mod
    from magmapandas_spark.relational.solver_oracles import QFM_GRID_P_BAR

    gf = synthetic_melt(spark, sf_dir)
    grid = gf.df.select(t_sweep().alias("t")).distinct().select(
        "t",
        F.explode(
            F.array(*[F.lit(p) for p in QFM_GRID_P_BAR])
        ).alias("P_bar"),
    )
    fo2col = fo2_mod.fo2_qfm(0.0, F.col("t"), F.col("P_bar"))
    return grid.select(
        "t", "P_bar", F.round(F.log10(fo2col), 6).alias("log_qfm")
    )


def q_iw_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Iron-Wustite fO2(T,P), Hirschmann 2021 — Gibbs polynomials
    with range switching, bcc-alpha magnetic correction, Vinet V·dP by
    100-point trapezoid over bisected room-T volumes, min-G Fe-polymorph
    selection, and the wustite solid-solution solve. The grid spans
    1 bar – 60 GPa so the unpressurized branch, every Fe polymorph and
    the deep-mantle path all execute. Previously golden-tested only;
    the oracle replays all three solver layers in SQL."""
    from magmapandas_spark.models import iw as iw_mod
    from magmapandas_spark.relational.solver_oracles import IW_GRID_P_BAR
    gf = synthetic_melt(spark, sf_dir)
    grid = gf.df.select(t_sweep().alias("t")).distinct().select(
        "t",
        F.explode(
            F.array(*[F.lit(p) for p in IW_GRID_P_BAR])
        ).alias("P_bar"),
    )
    fo2col = iw_mod.fo2_iw(0.0, F.col("t"), F.col("P_bar"))
    return grid.select(
        "t", "P_bar", F.round(F.log10(fo2col), 6).alias("log_iw")
    )


_ERR_MODELS = ["borisov2018", "oneill2018", "hirschmann2022", "deng2020"]


def q_fe3fe2_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-error surface (``Fe3Fe2_baseclass.py:94-145``): the fitted
    1-bar curve a·x + b·x² + c^(x+d) below 1 bar and the published
    high-pressure error B-splines above, evaluated with the engine's
    numpy De Boor kernel inside one Arrow stage. x sweeps past both
    spline boundaries so the clip path executes; P alternates 1 bar /
    melt pressure so both regimes of the selector run. The oracle
    unrolls the De Boor triangle per knot span with literal
    knots/coefficients — previously golden-tested only."""
    from magmapandas_spark.operators.montecarlo import fe3fe2_error_column
    gf = synthetic_melt(spark, sf_dir)
    x = F.lit(0.05) + (F.col("name") % 440).cast("double") * F.lit(0.005)
    p = F.when((F.col("name") % 3) == 0, F.lit(1.0)).otherwise(
        F.col("P_bar")
    )
    base = gf.df.select("name", x.alias("x"), p.alias("p"))
    cols = [
        F.round(
            fe3fe2_error_column(m, F.col("x"), F.col("p")), 6
        ).alias(f"err_{m}")
        for m in _ERR_MODELS
    ]
    return base.select("name", *cols)


def _sql_fe3fe2_errors() -> str:
    from magmapandas_spark.operators.montecarlo import sql_fe3fe2_error

    x = "(0.05 + (name % 440) * 0.005)"
    p = "(CASE WHEN name % 3 = 0 THEN 1.0 ELSE P_bar END)"
    cols = ",\n  ".join(
        f"ROUND({sql_fe3fe2_error(m, x, p)}, 6) AS err_{m}"
        for m in _ERR_MODELS
    )
    return f"""
WITH {SQL_MELT_CTE.strip()}
SELECT name,
  {cols}
FROM melt
ORDER BY name
"""


def q_melt_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical descriptive statistics over sample groups (SURVEY §2.4
    'describe()'): count/mean/min/max/stddev per pressure level —
    map-side partial aggregation, one shuffle on a 5-value key.
    Stddev computed as sqrt(E[x²]−E[x]²) through DECIMAL casts so both
    engines do identical arithmetic."""
    gf = synthetic_melt(spark, sf_dir)

    def dec_avg(c):
        return (
            F.sum(F.col(c).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        )

    def dec_avg_sq(c):
        return (
            F.sum(
                (F.col(c).cast("decimal(18,6)")
                 * F.col(c).cast("decimal(18,6)")).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1))
        )

    return (
        gf.df.groupBy("P_bar")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dec_avg("SiO2"), 6).alias("mean_SiO2"),
            F.round(F.min("MgO"), 6).alias("min_MgO"),
            F.round(F.max("MgO"), 6).alias("max_MgO"),
            F.round(
                F.sqrt(dec_avg_sq("H2O") - dec_avg("H2O") * dec_avg("H2O")),
                6,
            ).alias("std_H2O"),
        )
        .orderBy("P_bar")
    )


def _sql_melt_describe() -> str:
    davg = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
    davg_sq = (
        "CAST(SUM(CAST(CAST({x} AS DECIMAL(18,6))"
        " * CAST({x} AS DECIMAL(18,6)) AS DECIMAL(28,12))) AS DOUBLE)"
        " / COUNT(*)"
    )
    mean_si = davg.format(x="SiO2")
    mean_h = davg.format(x="H2O")
    mean_h_sq = davg_sq.format(x="H2O")
    return f"""
WITH {SQL_MELT_CTE}
SELECT P_bar,
  COUNT(*) AS n,
  ROUND({mean_si}, 6) AS mean_SiO2,
  ROUND(MIN(MgO), 6) AS min_MgO,
  ROUND(MAX(MgO), 6) AS max_MgO,
  ROUND(SQRT({mean_h_sq} - ({mean_h}) * ({mean_h})), 6) AS std_H2O
FROM melt
GROUP BY P_bar
ORDER BY P_bar
"""


def q_kd_blundy_saper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining Kd fixed-point models: blundy2020 (forces
    borisov2018 Fe3Fe2, ``Kd_models.py:352-362``) and saper2022 (Gibbs
    + interaction terms, ``Kd_models.py:655-752``), each iterating
    forsterite to convergence inside one pandas-UDF batch."""
    from magmapandas_spark.models.kd import calculate_FeMg_Kd

    gf = _melt_subset(spark, sf_dir)
    df = calculate_FeMg_Kd(
        gf, T_K=F.lit(1500.0), P_bar="P_bar", model="blundy2020",
        fO2_buffer="QFM_1bar", out_col="kd_blundy",
    )
    g2 = GeoFrame(df, units=gf.units, datatype=gf.datatype,
                  species=gf.species)
    df = calculate_FeMg_Kd(
        g2, T_K=F.lit(1500.0), P_bar="P_bar", model="saper2022",
        Fe3Fe2=F.lit(0.2), out_col="kd_saper",
    )
    return df.select(
        "name",
        F.round("kd_blundy", 6).alias("kd_blundy"),
        F.round("kd_saper", 6).alias("kd_saper"),
    )


def q_fe3fe2_expr_models2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining purely-linear Fe3+/Fe2+ expression models:
    kress_carmichael1991 (with P terms), jayasuriya2004, putirka2016_6b
    — same 1-bar-QFM fO2 chain as fe3fe2_expr_models, exact SQL
    oracle."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    T = t_sweep()
    fO2 = fo2_mod.fo2_qfm_1bar(0.0, T)
    comp = components_expr(gf, [])
    mol = mole_fraction_exprs(comp)
    return gf.df.select(
        "name",
        F.round(
            fe_mod.fe3fe2_kress_carmichael1991(mol, T, fO2, F.col("P_bar")),
            4,
        ).alias("fe3fe2_kc"),
        F.round(
            fe_mod.fe3fe2_jayasuriya2004(mol, T, fO2), 4
        ).alias("fe3fe2_jaya"),
        F.round(
            fe_mod.fe3fe2_putirka2016_6b(mol, T, fO2), 4
        ).alias("fe3fe2_p6b"),
    ).orderBy("name")


def _sql_fe3fe2_expr_models2() -> str:
    _, mol = _sql_mole_fraction_terms(MELT_SPECIES)
    R = 8.31446261815324
    t = T_EXPR
    mu = (
        f"(-587474.0 + 1584.427 * {t} - 203.3164 * {t} * LN({t})"
        f" + 0.092710 * {t} * {t})"
    )
    ln_fo2 = f"({mu} / ({R!r} * {t}))"
    z = "0.0"
    g = lambda n: mol.get(n, z)

    # Kress & Carmichael 1991 eq. 7
    p_pa = "(P_bar * 1e5)"
    kc_comps = (
        f"(-2.243 * {g('Al2O3')} + -1.828 * {g('FeO')}"
        f" + 3.201 * {g('CaO')} + 5.854 * {g('Na2O')}"
        f" + 6.215 * {g('K2O')})"
    )
    kc = (
        f"(2.0 * EXP(0.196 * {ln_fo2} + 1.1492e4 / {t} + (-6.675)"
        f" + {kc_comps}"
        f" + (-3.36) * (1.0 - 1673.0 / {t} - LN({t} / 1673.0))"
        f" + (-7.01e-7) * {p_pa} / {t}"
        f" + (-1.54e-10) * (({t} - 1673.0) * {p_pa}) / {t}"
        f" + 3.85e-17 * {p_pa} * {p_pa} / {t}))"
    )
    jaya_comps = (
        f"(-0.487 * {g('MgO')} + 2.201 * {g('CaO')} + 6.610 * {g('Na2O')}"
        f" + 8.214 * {g('K2O')} + (-3.781) * {g('Al2O3')}"
        f" + (-62.79) * {g('P2O5')} + 1.377 * {g('FeO')})"
    )
    jaya = (
        f"(2.0 * EXP(0.1967 * {ln_fo2} + 12420.0 / {t} - 7.054"
        f" + {jaya_comps}))"
    )
    p6b = (
        f"(2.0 * EXP(-6.53 + 10813.8 / {t} + 0.19 * {ln_fo2}"
        f" + 12.4 * ({g('Na2O')} + {g('K2O')})"
        f" - 3.44 * ({g('Al2O3')} / ({g('Al2O3')} + {g('SiO2')}))"
        f" + 4.15 * {g('CaO')}))"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({kc}, 4) AS fe3fe2_kc,
  ROUND({jaya}, 4) AS fe3fe2_jaya,
  ROUND({p6b}, 4) AS fe3fe2_p6b
FROM melt
ORDER BY name
"""


def q_fe3fe2_expr_models3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last two oracle-able Fe3+/Fe2+ expression models: zhang2017
    (pressure-interpolated EOS closed form) and putirka2016_6c (NBO/T
    with Al(IV) capping — LEAST in both engines)."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    T = t_sweep()
    fO2 = fo2_mod.fo2_qfm_1bar(0.0, T)
    comp = components_expr(gf, [])
    mol = mole_fraction_exprs(comp)
    return gf.df.select(
        "name",
        F.round(
            fe_mod.fe3fe2_zhang2017(mol, T, fO2, F.col("P_bar")), 4
        ).alias("fe3fe2_zhang"),
        F.round(
            fe_mod.fe3fe2_putirka2016_6c(mol, T, fO2), 4
        ).alias("fe3fe2_p6c"),
    ).orderBy("name")


def _sql_fe3fe2_expr_models3() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )

    _, mol = _sql_mole_fraction_terms(MELT_SPECIES)
    R = 8.31446261815324
    t = T_EXPR
    mu = (
        f"(-587474.0 + 1584.427 * {t} - 203.3164 * {t} * LN({t})"
        f" + 0.092710 * {t} * {t})"
    )
    ln_fo2 = f"({mu} / ({R!r} * {t}))"
    z = "0.0"
    g = lambda n: mol.get(n, z)

    # zhang2017 eq. 11 ('LC' parameters)
    p_gpa = "(P_bar * 1e5 / 1e9)"
    zhang = (
        f"(EXP({ln_fo2} / 4.0 + (-6.376) + 107257.0 / ({R!r} * {t})"
        f" - (20170.0 + 4.54 * ({t} - 1673.0)) * ({16.6 / 3.0!r})"
        f"   * (POW(1.0 + 0.241 * {p_gpa}, 0.75) - 1.0) / ({R!r} * {t})"
        f" + (15095.0 + 2.92 * ({t} - 1673.0)) * ({4.0 / (3.0 * 8.27e-2)!r})"
        f"   * (POW(1.0 + 8.27e-2 * {p_gpa}, 0.75) - 1.0) / ({R!r} * {t})))"
    )

    # putirka2016_6c: cation fractions over the full species set
    cat_terms: dict = {}
    for s in MELT_SPECIES:
        n = cation_name(s)
        term = f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        cat_terms.setdefault(n, []).append(term)
    total = " + ".join(x for parts in cat_terms.values() for x in parts)
    cat = {
        n: f"(({' + '.join(parts)}) / ({total}))"
        for n, parts in cat_terms.items()
    }
    c = lambda n: cat.get(n, z)
    al_iv = (
        f"LEAST({c('Al')}, {c('Na')} + {c('K')}"
        f" + 2.0 * ({c('Ca')} + {c('Mg')}))"
    )
    tet = f"({c('Si')} + {c('Ti')} + {al_iv})"
    O = (
        f"(2.0 * ({c('Si')} + {c('Ti')})"
        f" + 1.5 * ({c('Al')} + {c('Cr')})"
        f" + ({c('Fe')} + {c('Mn')} + {c('Mg')} + {c('Ca')})"
        f" + 0.5 * ({c('Na')} + {c('K')})"
        f" + 2.5 * {c('P')})"
    )
    nbo_t = f"((2.0 * {O} - 4.0 * {tet}) / {tet})"
    p6c = (
        f"(2.0 * EXP(-6.75 + 10634.9 / {t} + 0.195 * {ln_fo2}"
        f" + 7.9 * ({g('Na2O')} + {g('K2O')}) - 4.6 * {g('MgO')}"
        f" + 0.54 * ({g('MgO')} / ({g('MgO')} + {g('FeO')}))"
        f" - 53.4 * {g('P2O5')} + 1.07 * {nbo_t}))"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({zhang}, 4) AS fe3fe2_zhang,
  ROUND({p6c}, 4) AS fe3fe2_p6c
FROM melt
ORDER BY name
"""


def q_fe3fe2_hirschmann2022(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hirschmann2022 — eq. 21 with the Armstrong closed-form VdP
    pressure term: the most structured expression-tier redox model,
    still fully SQL-expressible (SURVEY §2.8)."""
    from magmapandas_spark.models import fe3fe2 as fe_mod
    from magmapandas_spark.models import fo2 as fo2_mod
    from magmapandas_spark.models.common import (
        components_expr,
        mole_fraction_exprs,
    )

    gf = synthetic_melt(spark, sf_dir)
    T = t_sweep()
    fO2 = fo2_mod.fo2_qfm_1bar(0.0, T)
    comp = components_expr(gf, [])
    mol = mole_fraction_exprs(comp)
    return gf.df.select(
        "name",
        F.round(
            fe_mod.fe3fe2_hirschmann2022(mol, T, fO2, F.col("P_bar")), 4
        ).alias("fe3fe2_h22"),
    ).orderBy("name")


def _sql_fe3fe2_hirschmann2022() -> str:
    from magmapandas_spark.chem.elements import (
        calculate_weight,
        cation_amount,
        cation_name,
    )
    import numpy as np

    R = 8.31446261815324
    LN10 = float(np.log(10.0))
    t = T_EXPR
    mu = (
        f"(-587474.0 + 1584.427 * {t} - 203.3164 * {t} * LN({t})"
        f" + 0.092710 * {t} * {t})"
    )
    log10_fo2 = f"({mu} / ({R!r} * {t}) / {LN10!r})"

    cat_terms: dict = {}
    for s in MELT_SPECIES:
        n = cation_name(s)
        term = f"(({s} / {calculate_weight(s)!r}) * {cation_amount(s)!r})"
        cat_terms.setdefault(n, []).append(term)
    total = " + ".join(x for parts in cat_terms.values() for x in parts)
    cat = {
        n: f"(({' + '.join(parts)}) / ({total}))"
        for n, parts in cat_terms.items()
    }
    c = lambda n: cat.get(n, "0.0")

    def vdp(phase):
        K0, Kp = {"Fe2": (37.0, 8.0), "Fe3": (12.6, 1.3)}[phase]
        Kpp = -Kp / K0
        a = (1 + Kp) / (1 + Kp + K0 * Kpp)
        b = Kp / K0 - Kpp / (1 + Kp)
        cc = (1 + Kp + K0 * Kpp) / (Kp**2 + Kp - K0 * Kpp)
        v0 = (
            f"(13650.0 + 2.92 * ({t} - 1673.0))"
            if phase == "Fe2"
            else f"(21070.0 + 4.54 * ({t} - 1673.0))"
        )
        P = "(P_bar / 1e4)"
        part_1 = f"({a!r} * (1.0 - POW(1.0 + {b!r} * {P}, {1.0 - cc!r})))"
        part_2 = f"({b * (cc - 1)!r} * {P})"
        return f"({P} * {v0} * ({1.0 - a!r} + {part_1} / {part_2}))"

    dvdp = f"({vdp('Fe3')} - {vdp('Fe2')})"
    comp = (
        f"((-520.46) * {c('Si')} + (-185.37) * {c('Ti')}"
        f" + 494.39 * {c('Mg')} + 1838.34 * {c('Ca')}"
        f" + 2888.48 * {c('Na')} + 3473.68 * {c('K')}"
        f" + (-4473.6) * {c('P')}"
        f" + (-1245.09) * {c('Si')} * {c('Al')}"
        f" + (-1156.86) * {c('Si')} * {c('Mg')})"
    )
    h22 = (
        f"POW(10.0, 0.1917 * {log10_fo2} + (-1.961) + 4158.1 / {t}"
        f" + ({-33.25 / (R * LN10)!r})"
        f"   * (1.0 - 1673.15 / {t} - LN({t} / 1673.15))"
        f" - {dvdp} / ({R!r} * {t} * {LN10!r})"
        f" + {comp} / {t})"
    )
    return f"""
WITH {SQL_MELT_CTE}
SELECT name,
  ROUND({h22}, 4) AS fe3fe2_h22
FROM melt
ORDER BY name
"""


def q_fe3fe2_solvers2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining solver-tier Fe3+/Fe2+ models: oneill2006 and
    armstrong2019 fixed points over the sample subset (rows-only)."""
    from magmapandas_spark.models import fe3fe2 as fe_mod

    gf = _melt_subset(spark, sf_dir)
    T = t_sweep()
    df = fe_mod.calculate_Fe3Fe2(
        gf, T_K=T, P_bar="P_bar", model="oneill2006",
        fO2_buffer="QFM_1bar", dfO2=0.0, out_col="fe3fe2_oneill06",
    )
    g2 = GeoFrame(df, units=gf.units, datatype=gf.datatype,
                  species=gf.species)
    df = fe_mod.calculate_Fe3Fe2(
        g2, T_K=T, P_bar="P_bar", model="armstrong2019",
        fO2_buffer="QFM_1bar", dfO2=0.0, out_col="fe3fe2_armstrong",
    )
    return df.select(
        "name",
        F.round("fe3fe2_oneill06", 4).alias("fe3fe2_oneill06"),
        F.round("fe3fe2_armstrong", 4).alias("fe3fe2_armstrong"),
    )


def q_sugawara6a_cpx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last gate stragglers: sugawara2000_6a melt thermometer
    (``thermometers/melt.py:570-616``) and clinopyroxene Mg#
    (``clinopyroxene.py:33-50``, on the Fe-Ti synthetic treated as the
    generic Mg-Fe phase) — both pure expressions with exact oracles."""
    from magmapandas_spark.models import thermometers as tm
    from magmapandas_spark.models.minerals import cpx_mg_no

    gf = synthetic_melt(spark, sf_dir)
    t6a = tm.sugawara2000_6a(gf, P_bar="P_bar", out_col="T6a")
    mt = _synthetic_mt(spark, sf_dir)
    mg = cpx_mg_no(mt).select(
        F.col("name").alias("mt_name"), F.round("Mg_no", 6).alias("Mg_no")
    )
    left = t6a.select(
        "name", F.round("T6a", 4).alias("T6a"),
        (F.col("name") % 100 + 1).alias("mt_name"),
    )
    # modulo-join onto the (unique-keyed) mineral table: broadcast
    out = left.join(F.broadcast(mg), "mt_name")
    return out.select("name", "T6a", "Mg_no").orderBy("name")


def _sql_sugawara6a_cpx() -> str:
    from magmapandas_spark.chem.elements import calculate_weight

    anhyd = [s for s in MELT_SPECIES if s != "H2O"]
    _, frac_anh = _sql_mole_fraction_terms(anhyd)
    _, frac_full = _sql_mole_fraction_terms(MELT_SPECIES)
    t6a = (
        f"1466.0 - 1.44 * ({frac_anh['SiO2']} * 100.0)"
        f" - 0.5 * ({frac_anh['FeO']} * 100.0)"
        f" + 12.32 * ({frac_anh['MgO']} * 100.0)"
        f" - 3.899 * ({frac_anh['CaO']} * 100.0)"
        f" + 4.3e-3 * P_bar - 5.403 * ({frac_full['H2O']} * 100.0)"
    )
    mt_species = ["TiO2", "Al2O3", "MgO", "MnO", "FeO"]
    terms = {s: f"(mt.{s} / {calculate_weight(s)!r})" for s in mt_species}
    tot = " + ".join(terms.values())
    mol = {s: f"({t} / ({tot}))" for s, t in terms.items()}
    mg_no = f"({mol['MgO']} / ({mol['FeO']} + {mol['MgO']}))"
    # compute T6a before the join so melt/mineral oxide columns never
    # meet in one scope (both tables have Al2O3/MgO/FeO/TiO2)
    return f"""
WITH {SQL_MELT_CTE},
{SQL_MT_CTE.strip().rstrip()},
melt_t AS (
  SELECT name, ROUND({t6a}, 4) AS T6a, name % 100 + 1 AS mt_name
  FROM melt
)
SELECT melt_t.name AS name,
  T6a,
  ROUND({mg_no}, 6) AS Mg_no
FROM melt_t
JOIN mt ON melt_t.mt_name = mt.name
ORDER BY name
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "thermometer_putirka2008_15": (
        q_thermometer_putirka15,
        _sql_thermometer_putirka15,
    ),
    "redox_chain": (q_redox_chain, _sql_redox_chain),
    "density_viscosity": (q_density_viscosity, _sql_density_viscosity),
    "mineral_forsterite": (q_mineral_forsterite, _sql_mineral_forsterite),
    "shishkina_co2_saturation": (
        q_shishkina_co2_saturation,
        _sql_shishkina_co2,
    ),
    "volatile_saturation_im": (
        q_volatile_saturation_im,
        _solver_oracle("sql_volatile_saturation_im"),
    ),
    "allison_saturation": (
        q_allison_saturation,
        _solver_oracle("sql_allison_saturation"),
    ),
    "isobar_grid": (q_isobar_grid, _solver_oracle("sql_isobar_grid")),
    "mc_thermometer": (q_mc_thermometer, _solver_oracle("sql_mc_thermometer")),
    "thermometers_multi": (q_thermometers_multi, _sql_thermometers_multi),
    "fe3fe2_expr_models": (q_fe3fe2_expr_models, _sql_fe3fe2_expr_models),
    "kd_expr_models": (q_kd_expr_models, _sql_kd_expr_models),
    "olmelt_thermometer": (q_olmelt_thermometer, _sql_olmelt_thermometer),
    "unit_conversions": (q_unit_conversions, _sql_unit_conversions),
    "melt_structure": (q_melt_structure, _sql_melt_structure),
    "thermometers_multi2": (q_thermometers_multi2, _sql_thermometers_multi2),
    "magnetite_speciation": (
        q_magnetite_speciation,
        _sql_magnetite_speciation,
    ),
    "ilmenite_speciation": (q_ilmenite_speciation, _sql_ilmenite_speciation),
    "plag_endmembers": (q_plag_endmembers, _sql_plag_endmembers),
    "feo_fe2o3_split": (q_feo_fe2o3_split, _sql_feo_fe2o3_split),
    "calibration_flags": (q_calibration_flags, _sql_calibration_flags),
    "fe3fe2_deng2020": (
        q_fe3fe2_deng2020,
        _solver_oracle("sql_fe3fe2_deng2020"),
    ),
    "kd_toplis_iteration": (
        q_kd_toplis_iteration,
        _solver_oracle("sql_kd_toplis"),
    ),
    "melt_describe": (q_melt_describe, _sql_melt_describe),
    "fo2_buffers": (q_fo2_buffers, _sql_fo2_buffers),
    "qfm_exact": (q_qfm_exact, _solver_oracle("sql_qfm_exact")),
    "iw_exact": (q_iw_exact, _solver_oracle("sql_iw_exact")),
    "fe3fe2_errors": (q_fe3fe2_errors, _sql_fe3fe2_errors),
    "kd_blundy_saper": (
        q_kd_blundy_saper,
        _solver_oracle("sql_kd_blundy_saper"),
    ),
    "fe3fe2_expr_models2": (q_fe3fe2_expr_models2, _sql_fe3fe2_expr_models2),
    "fe3fe2_expr_models3": (q_fe3fe2_expr_models3, _sql_fe3fe2_expr_models3),
    "fe3fe2_hirschmann2022": (
        q_fe3fe2_hirschmann2022,
        _sql_fe3fe2_hirschmann2022,
    ),
    "fe3fe2_solvers2": (
        q_fe3fe2_solvers2,
        _solver_oracle("sql_fe3fe2_solvers2"),
    ),
    "sugawara6a_cpx": (q_sugawara6a_cpx, _sql_sugawara6a_cpx),
}
