"""Melt density (Iacovino & Till 2019) and viscosity (Giordano 2008).

Spark-native re-expression of ``src/MagmaPandas/rheology/density.py`` and
``rheology/viscosity.py`` — pure linear algebra with literal
coefficients, so both compile entirely to Column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models.common import (
    as_col,
    components_expr,
    csum,
    mole_fraction_exprs,
)

# Iacovino & Till (2019) model tables (``rheology/density.py:11-69``)
DENSITY_T_REF = {"SiO2": 1773.0, "TiO2": 1773.0, "Al2O3": 1773.0,
                 "Fe2O3": 1723.0, "FeO": 1723.0, "MgO": 1773.0,
                 "CaO": 1773.0, "Na2O": 1773.0, "K2O": 1773.0,
                 "H2O": 1273.0}
MOLAR_VOLUMES = {"SiO2": 26.86, "TiO2": 28.32, "Al2O3": 37.42,
                 "Fe2O3": 41.50, "FeO": 12.68, "MgO": 12.02, "CaO": 16.90,
                 "Na2O": 29.65, "K2O": 47.28, "H2O": 22.9}
DVDT = {"SiO2": 0.0, "TiO2": 0.00724, "Al2O3": 0.00262, "Fe2O3": 0.0,
        "FeO": 0.00369, "MgO": 0.00327, "CaO": 0.00374, "Na2O": 0.00768,
        "K2O": 0.01208, "H2O": 0.0095}
DVDP = {"SiO2": -1.89e-4, "TiO2": -2.31e-4, "Al2O3": -2.26e-4,
        "Fe2O3": -2.5e-4, "FeO": -4.5e-5, "MgO": 2.7e-5, "CaO": 3.4e-5,
        "Na2O": -2.4e-4, "K2O": -6.75e-4, "H2O": -3.2e-4}

DENSITY_COMPONENTS = list(MOLAR_VOLUMES)


def calculate_density(melt: GeoFrame, T_K, P_bar, out_col: str = "density") -> DataFrame:
    """Melt density in kg/m3 (``rheology/density.py:72-114``).

    Mole fractions are taken over the FULL composition, then only the
    10 model oxides enter the volume sum (not renormalised —
    ``density.py:96-98``)."""
    T = as_col(T_K)
    P = as_col(P_bar)
    comp = components_expr(melt, DENSITY_COMPONENTS)
    mol = mole_fraction_exprs(comp)
    mass = csum(
        mol[s] * F.lit(chem.calculate_weight(s)) for s in DENSITY_COMPONENTS
    )
    v_liquid = csum(
        (
            (T - F.lit(DENSITY_T_REF[s])) * F.lit(DVDT[s])
            + (P - F.lit(1.0)) * F.lit(DVDP[s])
            + F.lit(MOLAR_VOLUMES[s])
        )
        * mol[s]
        for s in DENSITY_COMPONENTS
    )
    return melt.df.withColumn(out_col, mass / v_liquid * F.lit(1e3))


# Giordano et al. (2008) (``rheology/viscosity.py:14-50``)
_VISC = dict(A=-4.55, b1=159.6, b2=-173.3, b3=72.1, b4=75.7, b5=-39.0,
             b6=-84.1, b7=141.5, b11=-2.43, b12=-0.91, b13=17.6, c1=2.75,
             c2=15.7, c3=8.3, c4=10.2, c5=-12.3, c6=-99.5, c11=0.3)
VISCOSITY_COMPONENTS = ["SiO2", "TiO2", "Al2O3", "FeO", "MnO", "P2O5",
                        "MgO", "CaO", "Na2O", "H2O", "F2", "K2O"]


def calculate_viscosity(melt: GeoFrame, T_K, out_col: str = "viscosity") -> DataFrame:
    """log10 viscosity in Pa·s (``rheology/viscosity.py:114-135``).

    B and C terms from mol% of the full composition
    (``viscosity.py:53-111``)."""
    T = as_col(T_K)
    comp = components_expr(melt, VISCOSITY_COMPONENTS)
    mol = mole_fraction_exprs(comp)
    m = {s: mol.get(s, F.lit(0.0)) * F.lit(100.0) for s in set(mol) | set(VISCOSITY_COMPONENTS)}
    p = _VISC

    B = (
        F.lit(p["b1"]) * (m["SiO2"] + m["TiO2"])
        + F.lit(p["b2"]) * m["Al2O3"]
        + F.lit(p["b3"]) * (m["FeO"] + m["MnO"] + m["P2O5"])
        + F.lit(p["b4"]) * m["MgO"]
        + F.lit(p["b5"]) * m["CaO"]
        + F.lit(p["b6"]) * (m["Na2O"] + m["H2O"] + m["F2"])
        + F.lit(p["b7"]) * (m["H2O"] + m["F2"] + F.log(F.lit(1.0) + m["H2O"]))
        + F.lit(p["b11"])
        * ((m["SiO2"] + m["TiO2"]) * (m["FeO"] + m["MnO"] + m["MgO"]))
        + F.lit(p["b12"])
        * (
            (m["SiO2"] + m["TiO2"] + m["Al2O3"] + m["P2O5"])
            * (m["Na2O"] + m["K2O"] + m["H2O"])
        )
        + F.lit(p["b13"]) * (m["Al2O3"] * (m["Na2O"] + m["K2O"]))
    )
    C = (
        F.lit(p["c1"]) * m["SiO2"]
        + F.lit(p["c2"]) * (m["TiO2"] + m["Al2O3"])
        + F.lit(p["c3"]) * (m["FeO"] + m["MgO"] + m["MnO"])
        + F.lit(p["c4"]) * m["CaO"]
        + F.lit(p["c5"]) * (m["Na2O"] + m["K2O"])
        + F.lit(p["c6"]) * F.log(F.lit(1.0) + m["H2O"] + m["F2"])
        + F.lit(p["c11"])
        * (
            (m["Al2O3"] + m["FeO"] + m["MgO"] + m["MnO"] + m["CaO"] - m["P2O5"])
            * (m["Na2O"] + m["K2O"] + m["H2O"] + m["F2"])
        )
    )
    return melt.df.withColumn(out_col, F.lit(p["A"]) + B / (T - C))


def calculate_temperature(
    melt: GeoFrame, density, P_bar, out_col: str = "T_K"
) -> DataFrame:
    """Inverse of :func:`calculate_density`: melt temperature from
    density (``rheology/density.py:117-147``).

    The molar volume is linear in T, so the reference's
    1500 K-anchored rearrangement is closed-form — pure expression:
    T = 1500 + (V_liquid − V_P − V_ref − ΣX·dVdT·(1500−Tref)) / ΣX·dVdT
    """
    rho = as_col(density)
    P = as_col(P_bar)
    comp = components_expr(melt, DENSITY_COMPONENTS)
    mol = mole_fraction_exprs(comp)
    mass = csum(
        mol[s] * F.lit(chem.calculate_weight(s)) for s in DENSITY_COMPONENTS
    )
    V_liquid = mass * F.lit(1e3) / rho
    V_P = csum(
        (P - F.lit(1.0)) * F.lit(DVDP[s]) * mol[s]
        for s in DENSITY_COMPONENTS
    )
    V_ref = csum(
        F.lit(MOLAR_VOLUMES[s]) * mol[s] for s in DENSITY_COMPONENTS
    )
    T_1500 = csum(
        F.lit((1500.0 - DENSITY_T_REF[s]) * DVDT[s]) * mol[s]
        for s in DENSITY_COMPONENTS
    )
    V_per_degree = csum(
        F.lit(DVDT[s]) * mol[s] for s in DENSITY_COMPONENTS
    )
    T_K = F.lit(1500.0) + (V_liquid - V_P - V_ref - T_1500) / V_per_degree
    return melt.df.withColumn(out_col, T_K)
