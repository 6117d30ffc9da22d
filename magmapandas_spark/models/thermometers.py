"""Melt thermometers — liquidus temperature (Kelvin) from melt composition.

Spark-native re-expression of the reference's
``src/MagmaPandas/thermometers/melt.py`` (registry at L619-624). Every
model here is closed-form algebra over oxide wt.% columns, so each
compiles to a single Catalyst Column expression tree: no UDFs, no
shuffles, whole-stage codegen, scale-independent.

Each function takes a :class:`GeoFrame` in oxide wt.% and returns the
input DataFrame with a ``T_K`` column appended.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame, csum

# standard errors of estimate, K (``thermometers/melt.py:36-48``)
ERRORS = {
    "putirka2008_13": 71.0,
    "putirka2008_14": 58.0,
    "putirka2008_15": 46.0,
    "putirka2008_16": 26.0,
    "putirka2008_22": 32.0,
    "sun2020": 49.0,
    "shea2022": 13.0,
    "sugawara2000_3": 33.0,
    "sugawara2000_6a": 30.0,
}

# required components (``thermometers/melt.py:50-60``)
COMPONENTS = {
    "putirka2008_13": ["MgO"],
    "putirka2008_14": ["MgO", "FeO", "Na2O", "K2O", "H2O"],
    "putirka2008_15": ["MgO", "FeO", "Na2O", "K2O", "H2O"],
    "putirka2008_16": ["SiO2", "Al2O3", "MgO"],
    "putirka2008_22": ["SiO2", "FeO", "MnO", "MgO", "CaO", "CoO", "NiO", "H2O"],
    "sun2020": ["MgO", "CaO", "K2O", "TiO2", "FeO", "CO2", "H2O"],
    "shea2022": ["MgO"],
    "sugawara2000_3": ["MgO"],
    "sugawara2000_6a": ["MgO", "FeO", "CaO", "SiO2"],
}

# calibration warn ranges (``thermometers/melt.py:23-34``)
CALIBRATION_RANGE = {
    "putirka2008_14": [
        ("SiO2", 31.0, 73.64),
        (("Na2O", "K2O"), 0.0, 14.3),
        ("H2O", 0.0, 18.6),
    ],
    "putirka2008_15": [
        ("SiO2", 31.0, 73.64),
        (("Na2O", "K2O"), 0.0, 14.3),
        ("H2O", 0.0, 18.6),
    ],
}

# Beattie (1993) olivine partition constants (``thermometers/melt.py:62-68``)
_BEATTIE = {
    "Mg": (1.0, 0.0),
    "Mn": (0.259, -4.9e-2),
    "Fe": (0.299, 2.7e-2),
    "Co": (0.786, -0.385),
    "Ni": (3.346, -3.665),
}


def _p_col(P_bar) -> Column:
    if isinstance(P_bar, Column):
        return P_bar
    if isinstance(P_bar, str):
        return F.col(P_bar)
    return F.lit(float(P_bar))


def _components(gf: GeoFrame, model: str) -> dict[str, Column]:
    """check_components (``parse_io/parse.py:47-65``): null→0, missing→0."""
    comp = {s: F.coalesce(F.col(s), F.lit(0.0)) for s in gf.species}
    for c in COMPONENTS[model]:
        comp.setdefault(c, F.lit(0.0))
    return comp


def _mole_fractions(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    """wt.% → mol fraction over the included species
    (``magmaFrame.py:356-385`` with normalise=True)."""
    mol = {
        s: c / F.lit(chem.calculate_weight(s))
        for s, c in comp.items()
        if s not in exclude
    }
    total = csum(mol.values())
    return {s: m / total for s, m in mol.items()}


def _cation_fractions(
    comp: dict[str, Column], exclude: tuple[str, ...] = ()
) -> dict[str, Column]:
    """wt.% oxides → cation mol fractions (``magmaFrame.py:225-264``)."""
    cat = {}
    for s, c in comp.items():
        if s in exclude:
            continue
        name = chem.cation_name(s)
        e = c / F.lit(chem.calculate_weight(s)) * F.lit(chem.cation_amount(s))
        cat[name] = cat[name] + e if name in cat else e
    total = csum(cat.values())
    return {n: e / total for n, e in cat.items()}


def calibration_flag(gf: GeoFrame, model: str) -> Column | None:
    """Boolean in-calibration-range flag (``tools/calibration_range.py:10-46``).

    The reference eagerly warns; at scale we expose the predicate as a
    column the caller can aggregate (count outside) without a collect."""
    ranges = CALIBRATION_RANGE.get(model)
    if ranges is None:
        return None
    conds = []
    for spec, lo, hi in ranges:
        if isinstance(spec, tuple):
            val = csum(
                F.coalesce(F.col(s), F.lit(0.0))
                for s in spec
                if s in gf.species
            )
        else:
            val = (
                F.coalesce(F.col(spec), F.lit(0.0))
                if spec in gf.species
                else F.lit(0.0)
            )
        conds.append(val.between(F.lit(lo), F.lit(hi)))
    return reduce(lambda a, b: a & b, conds)


def _finish(
    gf: GeoFrame, model: str, T_K: Column, offset: float, out_col: str
) -> DataFrame:
    """Offset handling + temperature sanity flag
    (``thermometers/validate_temperatures.py:6-21``: negative or NaN
    temperatures are invalid — kept as a queryable flag, not an eager
    warning, to avoid driver actions in the operator path)."""
    T_K = T_K + F.lit(ERRORS[model] * offset)
    out = gf.df.withColumn(out_col, T_K)
    return out


def putirka2008_13(
    melt: GeoFrame, P_bar=None, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Putirka (2008) eq. 13 (``thermometers/melt.py:71-106``)."""
    comp = _components(melt, "putirka2008_13")
    T_K = F.lit(26.3) * comp["MgO"] + F.lit(994.4 + 273.15)
    return _finish(melt, "putirka2008_13", T_K, offset, out_col)


def _putirka_14_15_core(melt: GeoFrame, model: str):
    comp = _components(melt, model)
    H2O = comp["H2O"]
    mol = _mole_fractions(comp, exclude=("H2O",))
    mg_no = mol["MgO"] / (mol["MgO"] + mol["FeO"])
    FeO = comp["FeO"]
    if "Fe2O3" in melt.species:
        w_feo, w_fe2o3 = chem.calculate_weight("FeO"), chem.calculate_weight(
            "Fe2O3"
        )
        FeO = FeO + F.lit(2.0) * comp["Fe2O3"] * F.lit(w_feo / w_fe2o3)
    return comp, H2O, mg_no, FeO


def putirka2008_14(
    melt: GeoFrame, P_bar=None, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Putirka (2008) eq. 14 (``thermometers/melt.py:109-188``)."""
    comp, H2O, mg_no, FeO = _putirka_14_15_core(melt, "putirka2008_14")
    T_K = (
        F.lit(754.0)
        + F.lit(190.6) * mg_no
        + F.lit(25.52) * comp["MgO"]
        + F.lit(9.585) * FeO
        + F.lit(14.87) * (comp["Na2O"] + comp["K2O"])
        - F.lit(9.176) * H2O
        + F.lit(273.15)
    )
    return _finish(melt, "putirka2008_14", T_K, offset, out_col)


def putirka2008_15(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Putirka (2008) eq. 15 — the reference's default thermometer
    (``thermometers/melt.py:191-279``)."""
    comp, H2O, mg_no, FeO = _putirka_14_15_core(melt, "putirka2008_15")
    P_GPa = _p_col(P_bar) / F.lit(1e4)
    T_K = (
        F.lit(815.3)
        + F.lit(265.5) * mg_no
        + F.lit(15.37) * comp["MgO"]
        + F.lit(8.61) * FeO
        + F.lit(6.646) * (comp["Na2O"] + comp["K2O"])
        + F.lit(39.16) * P_GPa
        - F.lit(12.83) * H2O
        + F.lit(273.15)
    )
    return _finish(melt, "putirka2008_15", T_K, offset, out_col)


def putirka2008_16(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Putirka (2008) eq. 16 (``thermometers/melt.py:282-346``)."""
    comp = _components(melt, "putirka2008_16")
    exclude = ("H2O",) if "H2O" in melt.species else ()
    mol = _mole_fractions(comp, exclude=exclude)
    P_GPa = _p_col(P_bar) / F.lit(1e4)
    T_K = (
        F.lit(-583.0)
        + F.lit(3141.0) * mol["SiO2"]
        + F.lit(15779.0) * mol["Al2O3"]
        + F.lit(1338.6) * mol["MgO"]
        - F.lit(31440.0) * mol["SiO2"] * mol["Al2O3"]
        + F.lit(77.67) * P_GPa
        + F.lit(273.15)
    )
    return _finish(melt, "putirka2008_16", T_K, offset, out_col)


def putirka2008_22(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Putirka (2008) eq. 22 with Beattie (1993) eq. 12 D_Mg
    (``thermometers/melt.py:349-425``)."""
    comp = _components(melt, "putirka2008_22")
    H2O = comp["H2O"]
    cat = _cation_fractions(comp, exclude=("H2O",))
    P_GPa = _p_col(P_bar) / F.lit(1e4)

    def c(name: str) -> Column:
        return cat.get(name, F.lit(0.0))

    num = F.lit(0.666) - csum(F.lit(b) * c(n) for n, (_, b) in _BEATTIE.items())
    den = csum(F.lit(a) * c(n) for n, (a, _) in _BEATTIE.items())
    lnD_Mg = F.log(num / den)
    C_NM = csum(c(n) for n in ("Fe", "Mn", "Mg", "Ca", "Co", "Ni"))
    NF = F.lit(3.5) * F.log(F.lit(1.0) - c("Al")) + F.lit(7.0) * F.log(
        F.lit(1.0) - c("Ti")
    )
    T_K = (
        F.lit(15294.6) + F.lit(1318.8) * P_GPa + F.lit(2.4834) * P_GPa * P_GPa
    ) / (
        F.lit(8.048)
        + F.lit(2.8352) * lnD_Mg
        + F.lit(2.097) * F.log(F.lit(1.5) * C_NM)
        + F.lit(2.575) * F.log(F.lit(3.0) * c("Si"))
        - F.lit(1.41) * NF
        + F.lit(0.222) * H2O
        + F.lit(0.5) * P_GPa
    ) + F.lit(273.15)
    return _finish(melt, "putirka2008_22", T_K, offset, out_col)


def sun2020(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Sun & Dasgupta (2020) eq. 6 (``thermometers/melt.py:428-486``),
    on the cation-moles-per-oxygen basis
    (``tools/modify_compositions.py:38-74``)."""
    comp = _components(melt, "sun2020")
    P_GPa = _p_col(P_bar) / F.lit(1e4)

    # mole fractions of the full composition
    mol = _mole_fractions(comp)
    # volatile-free oxide subset on the *mole* basis
    volatiles = ("H2O", "CO2", "F", "S", "Cl")
    oxides = [
        s
        for s in mol
        if s not in volatiles and chem.oxygen_amount(s) > 0
    ]
    o_moles = {s: mol[s] * F.lit(chem.oxygen_amount(s)) for s in oxides}
    total_o = csum(o_moles.values())
    per_ox = {}
    for s in oxides:
        cpo = chem.cation_amount(s) / chem.oxygen_amount(s)
        from fractions import Fraction as _Fr

        name = f"{chem.cation_name(s)}{_Fr(cpo).limit_denominator()}O"
        per_ox[name] = o_moles[s] / total_o * F.lit(cpo)

    def u(name: str) -> Column:
        return per_ox.get(name, F.lit(0.0))

    omega = (
        F.lit(2.59)
        + F.lit(3.5) * (u("Ca1O") - F.lit(2.0) * u("K2O"))
        + F.lit(4.85) * u("Ti1/2O")
        + F.lit(1.4) * (u("Mg1O") / (u("Mg1O") + u("Fe1O")))
        + F.lit(0.5) * u("Mg1O") * F.sqrt(comp["CO2"])
        + F.lit(5.7e-2) * comp["H2O"]
    )
    T_K = F.lit(1e4) / (
        omega - F.lit(0.34) * F.sqrt(P_GPa) - F.lit(1.26) * F.log(u("Mg1O"))
    )
    return _finish(melt, "sun2020", T_K, offset, out_col)


def shea2022(
    melt: GeoFrame, P_bar=None, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Shea et al. (2022) eq. 1 (``thermometers/melt.py:489-521``)."""
    comp = _components(melt, "shea2022")
    T_K = F.lit(21.2) * comp["MgO"] + F.lit(1017.0 + 273.15)
    return _finish(melt, "shea2022", T_K, offset, out_col)


def sugawara2000_3(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Sugawara (2000) eq. 3 + H2O correction eq. 7a
    (``thermometers/melt.py:524-567``)."""
    comp = _components(melt, "sugawara2000_3")
    # anhydrous, renormalised to 100 wt.% then to mol percent
    anhydrous = {
        s: c for s, c in comp.items() if s != "H2O"
    }
    total = csum(anhydrous.values())
    anhydrous = {s: c / total * F.lit(100.0) for s, c in anhydrous.items()}
    mol_pc = {
        s: e * F.lit(100.0)
        for s, e in _mole_fractions(anhydrous).items()
    }
    T_K = (
        F.lit(1293.0)
        + F.lit(14.60) * mol_pc["MgO"]
        + F.lit(5.5e-3) * _p_col(P_bar)
    )
    if "H2O" in melt.species:
        mol_full = _mole_fractions(comp)
        T_K = T_K - F.lit(5.403) * mol_full["H2O"] * F.lit(100.0)
    return _finish(melt, "sugawara2000_3", T_K, offset, out_col)


def sugawara2000_6a(
    melt: GeoFrame, P_bar=0.0, offset: float = 0.0, out_col: str = "T_K"
) -> DataFrame:
    """Sugawara (2000) eq. 6a + H2O correction eq. 7a
    (``thermometers/melt.py:570-616``)."""
    comp = _components(melt, "sugawara2000_6a")
    anhydrous = {s: c for s, c in comp.items() if s != "H2O"}
    total = csum(anhydrous.values())
    anhydrous = {s: c / total * F.lit(100.0) for s, c in anhydrous.items()}
    mol_pc = {
        s: e * F.lit(100.0)
        for s, e in _mole_fractions(anhydrous).items()
    }
    T_K = (
        F.lit(1466.0)
        - F.lit(1.44) * mol_pc["SiO2"]
        - F.lit(0.5) * mol_pc["FeO"]
        + F.lit(12.32) * mol_pc["MgO"]
        - F.lit(3.899) * mol_pc["CaO"]
        + F.lit(4.3e-3) * _p_col(P_bar)
    )
    if "H2O" in melt.species:
        mol_full = _mole_fractions(comp)
        T_K = T_K - F.lit(5.403) * mol_full["H2O"] * F.lit(100.0)
    return _finish(melt, "sugawara2000_6a", T_K, offset, out_col)


def putirka2007_4(
    liquid: GeoFrame,
    olivine: GeoFrame,
    P_bar=0.0,
    offset: float = 0.0,
    on: str = "name",
    out_col: str = "T_K",
) -> DataFrame:
    """Olivine-liquid thermometer, Putirka (2007) eq. 4
    (``thermometers/ol_melt.py:22-118``).

    The reference's pandas index alignment
    (``olivine_cations.loc[liquid_cations.index]``) becomes an inner
    equi-join on the sample key — broadcast-sized in practice."""
    has_h2o = "H2O" in liquid.species
    comp = {
        s: F.coalesce(F.col(s), F.lit(0.0)) for s in liquid.species
    }
    for c in ["MgO", "FeO", "Na2O", "K2O", "CaO", "SiO2", "TiO2"]:
        comp.setdefault(c, F.lit(0.0))
    H2O = comp["H2O"] if has_h2o else F.lit(0.0)
    exclude = ("H2O",) if has_h2o else ()
    mol = _mole_fractions(comp, exclude=exclude)
    cat = _cation_fractions(comp, exclude=exclude)

    ol_comp = {
        s: F.coalesce(F.col(f"ol_{s}"), F.lit(0.0)) for s in olivine.species
    }
    ol_cat = _cation_fractions(ol_comp)

    def c(d, name):
        return d.get(name, F.lit(0.0))

    C_NM = csum(c(cat, n) for n in ("Fe", "Mn", "Mg", "Ca", "Co", "Ni"))
    NF = F.lit(3.5) * F.log(F.lit(1.0) - c(cat, "Al")) + F.lit(7.0) * F.log(
        F.lit(1.0) - c(cat, "Ti")
    )
    D_Mg = c(ol_cat, "Mg") / c(cat, "Mg")
    P_GPa = _p_col(P_bar) / F.lit(1e4)

    numerator = (
        F.lit(15294.6) + F.lit(1318.8) * P_GPa + F.lit(2.4834) * P_GPa * P_GPa
    )
    denominator = (
        F.lit(8.048)
        + F.lit(2.8532) * F.log(D_Mg)
        + F.lit(2.097) * F.log(F.lit(1.5) * C_NM)
        + F.lit(2.575) * F.log(F.lit(3.0) * mol["SiO2"])
        - F.lit(1.41) * NF
        + F.lit(0.222) * H2O
        + F.lit(0.5) * P_GPa
    )
    error = 29.0 if has_h2o else 45.0
    T_K = numerator / denominator + F.lit(273.15) + F.lit(error * offset)

    ol_renamed = olivine.df.select(
        F.col(on),
        *[F.col(s).alias(f"ol_{s}") for s in olivine.species],
    )
    joined = liquid.df.join(ol_renamed, on=on, how="inner")
    return joined.withColumn(out_col, T_K)


# model registry — the engine's UDF catalog for thermometers
# (``thermometers/melt.py:619-624``)
melt_thermometers_dict = {
    "putirka2008_13": putirka2008_13,
    "putirka2008_14": putirka2008_14,
    "putirka2008_15": putirka2008_15,
    "putirka2008_16": putirka2008_16,
    "putirka2008_22": putirka2008_22,
    "sun2020": sun2020,
    "shea2022": shea2022,
    "sugawara2000_3": sugawara2000_3,
    "sugawara2000_6a": sugawara2000_6a,
}


def register_thermometer(name: str, fn=None):
    """Extension hook (``docs/source/extending.rst`` semantics, auto-
    registration at ``thermometers/melt.py:619-624``): add a melt
    thermometer ``fn(melt: GeoFrame, **kw) -> DataFrame`` to the
    catalog. Usable as a decorator::

        @register_thermometer("mymodel2025")
        def mymodel2025(melt, P_bar=0.0, offset=0.0, out_col="T_K"):
            ...
    """
    def _add(f):
        melt_thermometers_dict[name] = f
        return f

    if fn is not None:
        return _add(fn)
    return _add
