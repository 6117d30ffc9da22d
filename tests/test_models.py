"""Model-tier tests: Fe3Fe2 (expr + solver), fO2 buffers, density,
viscosity, minerals — against the reference's golden benchmark data
(SURVEY §5) and numpy mirrors."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import eos, fe3fe2, fo2, minerals, rheology
from magmapandas_spark.parse_io.readers import read_melt, read_olivine

from .conftest import BENCH_DATA, MELTS_CSV, OLIVINES_CSV


@pytest.fixture(scope="module")
def borisov_golden():
    return pd.read_csv(f"{BENCH_DATA}/Fe3Fe2/Fe3Fe2_borisov2018.csv")


@pytest.fixture(scope="module")
def hirschmann_golden():
    return pd.read_csv(f"{BENCH_DATA}/Fe3Fe2/Fe3Fe2_hirschmann.csv")


HIRSCHMANN_SPECIES = ["SiO2", "TiO2", "Al2O3", "Cr2O3", "FeO", "MnO",
                      "MgO", "NiO", "CaO", "Na2O", "K2O", "P2O5"]


def hirschmann_gf(spark, pdf):
    pdf = pdf.copy().reset_index().rename(columns={"index": "name"})
    pdf["P_bar"] = pdf["P_GPa"] * 1e4
    pdf["fO2_abs"] = 10.0 ** pdf["log10fO2"]
    sdf = spark.createDataFrame(
        pdf[["name", "T_K", "P_bar", "fO2_abs"] + HIRSCHMANN_SPECIES]
    )
    return GeoFrame(sdf, units="wt.%", datatype="oxide",
                    species=HIRSCHMANN_SPECIES)


@pytest.mark.needs_reference(BENCH_DATA)
def test_borisov2018_spark_vs_mirror(spark, borisov_golden):
    """Spark expr vs plain-numpy mirror on already-mol-fraction input."""
    sp = ["SiO2", "TiO2", "Al2O3", "FeO", "MgO", "CaO", "Na2O", "K2O", "P2O5"]
    pdf = borisov_golden.reset_index().rename(columns={"index": "name"})
    sdf = spark.createDataFrame(pdf[["name", "T_K", "fO2"] + sp])
    # input is mol fractions: bypass wt%→mol by passing exprs directly
    mol = {s: F.col(s) for s in sp}
    out = (
        sdf.withColumn(
            "pred", fe3fe2.fe3fe2_borisov2018(mol, F.col("T_K"), F.col("fO2"))
        )
        .select("name", "pred")
        .toPandas()
        .sort_values("name")
    )
    m = {c: pdf[c].to_numpy(float) for c in sp}
    T, f = pdf["T_K"].to_numpy(float), pdf["fO2"].to_numpy(float)
    exp = 10 ** (
        0.207 * np.log10(f) + 4633.3 / T
        - 0.445 * m["SiO2"] - 0.900 * m["TiO2"] + 1.532 * m["MgO"]
        + 0.314 * m["CaO"] + 2.030 * m["Na2O"] + 3.355 * m["K2O"]
        - 4.851 * m["P2O5"]
        - 3.081 * m["SiO2"] * m["Al2O3"] - 4.370 * m["SiO2"] * m["MgO"]
        - 1.852
    )
    assert np.allclose(out["pred"].to_numpy(), exp, rtol=1e-12)
    # and against the published golden (measured scatter ~0.03 dex median)
    dlog = np.log10(out["pred"].to_numpy()) - pdf["log10Fe3Fe2"].to_numpy(float)
    assert np.median(np.abs(dlog)) < 0.05


@pytest.mark.needs_reference(BENCH_DATA)
def test_hirschmann2022_golden(spark, hirschmann_golden):
    """hirschmann2022 (Armstrong dV/dP) vs the Hirschmann (2022) matlab
    outputs shipped as golden data."""
    gf = hirschmann_gf(spark, hirschmann_golden)
    out = fe3fe2.calculate_Fe3Fe2(
        gf, T_K="T_K", P_bar="P_bar", model="hirschmann2022",
        fO2=F.col("fO2_abs"),
    )
    pdf = out.select("name", "Fe3Fe2").toPandas().sort_values("name")
    ratio = pdf["Fe3Fe2"] / (1 + pdf["Fe3Fe2"])
    gold = hirschmann_golden["Fe3Fetotal_armstrong"].to_numpy(float)
    assert np.abs(ratio.to_numpy() - gold).max() < 0.005


@pytest.mark.needs_reference(BENCH_DATA)
def test_sun2024_parameterised_golden(spark):
    s = pd.read_csv(f"{BENCH_DATA}/Fe3Fe2/Fe3Fe2_input_sun2024.csv")
    sp = ["SiO2", "TiO2", "Al2O3", "MgO", "CaO", "Na2O", "K2O", "P2O5",
          "MnO", "CoO", "NiO", "FeO"]
    pdf = s.copy().reset_index().rename(columns={"index": "name"})
    pdf[sp] = pdf[sp].fillna(0.0)
    sdf = spark.createDataFrame(pdf[["name", "T_K", "P_bar", "fO2"] + sp])
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=sp)
    out = fe3fe2.calculate_Fe3Fe2(
        gf, T_K="T_K", P_bar="P_bar", model="sun2024", fO2=F.col("fO2")
    )
    res = out.select("name", "Fe3Fe2").toPandas().sort_values("name")
    gold = pdf.sort_values("name")["_Fe3Fe2_sun2024"].to_numpy(float)
    ok = np.isfinite(gold)
    assert np.abs(res["Fe3Fe2"].to_numpy()[ok] - gold[ok]).max() < 0.005


@pytest.mark.needs_reference(BENCH_DATA)
def test_solver_models_spark(spark, hirschmann_golden):
    """Solver-tier pandas UDFs (oneill2006 / armstrong2019 / deng2020)
    run through Spark and agree with their direct numpy twins."""
    from magmapandas_spark.models.common import mole_fractions_np

    gf = hirschmann_gf(spark, hirschmann_golden.head(12))
    pdf = hirschmann_golden.head(12)
    wt = {c: pdf[c].to_numpy(float) for c in HIRSCHMANN_SPECIES}
    mol = mole_fractions_np(wt)
    T = pdf["T_K"].to_numpy(float)
    P = pdf["P_GPa"].to_numpy(float) * 1e4
    f = 10 ** pdf["log10fO2"].to_numpy(float)
    for model, np_fn in [
        ("oneill2006", fe3fe2.oneill2006_np),
        ("armstrong2019", fe3fe2.armstrong2019_np),
        ("deng2020", fe3fe2.deng2020_np),
    ]:
        out = fe3fe2.calculate_Fe3Fe2(
            gf, T_K="T_K", P_bar="P_bar", model=model, fO2=F.col("fO2_abs")
        )
        res = (
            out.select("name", "Fe3Fe2").toPandas().sort_values("name")
        )["Fe3Fe2"].to_numpy()
        exp = np_fn(mol, T, P, f)
        assert np.allclose(res, exp, rtol=1e-6), model


@pytest.mark.needs_reference(BENCH_DATA)
def test_qfm_golden_curve():
    g = pd.read_csv(f"{BENCH_DATA}/fO2/QFM_anenburg.csv")
    out = eos.fo2_qfm(0.0, g["T_K"].to_numpy(), g["P_bar"].to_numpy())
    dlog = np.log10(out) - np.log10(g["fO2"].to_numpy())
    low_p = g["P_bar"].to_numpy() <= 1e4
    assert np.abs(dlog[low_p]).max() < 1e-4
    # 10 GPa: the reference itself documents divergence from the
    # Anenberg app due to root-finder differences (benchmarks/fO2.ipynb)
    assert np.abs(dlog[~low_p]).max() < 1.2


def test_qfm_udf_spark(spark):
    pdf = pd.DataFrame({"T_K": [1200.0, 1400.0, 1600.0],
                        "P_bar": [1.0, 4e3, 2e4]})
    sdf = spark.createDataFrame(pdf)
    out = sdf.withColumn(
        "fO2", fo2.calculate_fO2("T_K", "P_bar", fO2_buffer="QFM", dfO2=1.0)
    ).toPandas()
    exp = eos.fo2_qfm(1.0, pdf["T_K"].to_numpy(), pdf["P_bar"].to_numpy())
    assert np.allclose(out["fO2"].to_numpy(), exp, rtol=1e-10)


def test_fo2_expression_buffers(spark):
    sdf = spark.createDataFrame(
        pd.DataFrame({"T_K": [1100.0, 1400.0], "P_bar": [1.0, 1e4]})
    )
    cols = {
        "nno": fo2.fo2_nno(0.0, F.col("T_K"), F.col("P_bar")),
        "nno_1bar": fo2.fo2_nno_1bar(0.0, F.col("T_K")),
        "nno_frost": fo2.fo2_nno_frost(0.0, F.col("T_K"), F.col("P_bar")),
        "ruruo2": fo2.fo2_ruruo2(0.0, F.col("T_K"), F.col("P_bar")),
        "iw_campbell": fo2.fo2_iw_campbell(0.0, F.col("T_K"), F.col("P_bar")),
        "iw_zhang": fo2.fo2_iw_zhang(0.0, F.col("T_K"), F.col("P_bar")),
        "iw_oneill": fo2.fo2_iw_oneill1993(F.col("T_K")),
        "qfm_1bar": fo2.fo2_qfm_1bar(0.0, F.col("T_K")),
    }
    out = sdf.select([v.alias(k) for k, v in cols.items()]).toPandas()
    assert np.isfinite(out.to_numpy(dtype=float)).all()
    assert (out.to_numpy(dtype=float) > 0).all()
    # QFM 1-bar expression == numpy kernel
    exp = eos.fo2_qfm_1bar(np.array([1100.0, 1400.0]))
    assert np.allclose(out["qfm_1bar"].to_numpy(), exp, rtol=1e-12)
    # IW below QFM below NNO-ish ordering at 1 bar
    assert out["iw_oneill"][0] < out["qfm_1bar"][0]


@pytest.mark.needs_reference(MELTS_CSV)
def test_density_viscosity_ranges(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    d = rheology.calculate_density(melt, T_K=1473.15, P_bar=1000.0)
    v = rheology.calculate_viscosity(
        melt, T_K=1473.15
    )
    dens = d.select("density").toPandas()["density"]
    visc = v.select("viscosity").toPandas()["viscosity"]
    # basaltic melts: ~2600-2850 kg/m3, log10 viscosity ~0.5-4 Pa s
    assert dens.between(2500, 2950).all(), dens.describe()
    assert visc.between(-1, 6).all(), visc.describe()


@pytest.mark.needs_reference(OLIVINES_CSV)
def test_olivine_forsterite(spark):
    ol = read_olivine(spark, OLIVINES_CSV, index_col="name")
    out = minerals.forsterite(ol).select("name", "Fo").toPandas()
    assert out["Fo"].between(0.6, 0.95).all()
    # mirror
    pdf = pd.read_csv(OLIVINES_CSV).set_index("name")
    from magmapandas_spark.chem.elements import calculate_weight as W

    mgo = pdf["MgO"] / W("MgO")
    feo = pdf["FeO"] / W("FeO")
    exp = mgo / (feo + mgo)
    got = out.set_index("name")["Fo"]
    assert np.allclose(got, exp.loc[got.index], rtol=1e-9)


def test_plagioclase_endmembers_sum(spark):
    pdf = pd.DataFrame(
        {
            "name": ["p1", "p2"],
            "SiO2": [55.0, 60.0],
            "Al2O3": [28.0, 25.0],
            "CaO": [10.0, 7.0],
            "Na2O": [5.0, 6.5],
            "K2O": [0.5, 1.0],
        }
    )
    gf = GeoFrame(spark.createDataFrame(pdf), units="wt.%", datatype="oxide")
    out = minerals.plagioclase_endmembers(gf).toPandas()
    s = out["anorthite"] + out["albite"] + out["orthoclase"]
    assert np.allclose(s, 100.0, rtol=1e-9)


def test_magnetite_ilmenite_speciation(spark):
    mt = GeoFrame(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "name": ["m1"],
                    "TiO2": [12.0],
                    "Al2O3": [2.5],
                    "FeO": [78.0],
                    "MgO": [1.8],
                    "MnO": [0.6],
                }
            )
        ),
        units="wt.%",
        datatype="oxide",
    )
    out = minerals.magnetite_fe_speciation(mt).toPandas()
    # Fe2 + Fe3 == original total Fe cations (mass balance, 3-cation basis)
    assert np.allclose(
        out["cat_Fe2"] + out["cat_Fe3"], out["cat_Fe"], rtol=1e-9
    )
    em = minerals.magnetite_endmembers(mt).toPandas()
    assert np.allclose(em["magnetite"] + em["ulvospinel"], 1.0)

    ilm = GeoFrame(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "name": ["i1"],
                    "TiO2": [48.0],
                    "FeO": [45.0],
                    "MgO": [2.5],
                    "MnO": [0.8],
                    "Al2O3": [0.3],
                }
            )
        ),
        units="wt.%",
        datatype="oxide",
    )
    out2 = minerals.ilmenite_fe_speciation(ilm).toPandas()
    assert np.allclose(
        out2["cat_Fe2"] + out2["cat_Fe3"], out2["cat_Fe"], rtol=1e-9
    )


@pytest.mark.needs_reference(MELTS_CSV)
def test_nbo_t(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    out = minerals.nbo_t(melt).select("name", "NBO_T").toPandas()
    # basalts: NBO/T typically 0.2-1.2
    assert out["NBO_T"].between(0.0, 2.0).all(), out["NBO_T"].describe()


@pytest.mark.needs_reference(BENCH_DATA)
def test_iw_golden_curve():
    """Exact IW (Hirschmann 2021) vs the reference's golden benchmark
    data (docs/source/notebooks/benchmarks/data/fO2/fO2_IW_Hirschmann.csv,
    generated from the Hirschmann matlab script)."""
    from magmapandas_spark.models import iw

    g = pd.read_csv(f"{BENCH_DATA}/fO2/fO2_IW_Hirschmann.csv")
    out = iw.fo2_iw_np(0.0, g["T_K"].to_numpy(), g["P_bar"].to_numpy())
    dlog = np.abs(np.log10(out) - np.log10(g["fO2"].to_numpy()))
    # the reference itself notes a tiny pressure-term G difference vs
    # the matlab original (fO2/IW.py:166); 0.01 dex across 1-1e5 bar
    assert dlog.max() < 0.01


def test_iw_udf_spark(spark):
    from magmapandas_spark.models import iw

    pdf = pd.DataFrame({"T_K": [1200.0, 1500.0, 1800.0],
                        "P_bar": [1.0, 4e3, 1e5]})
    sdf = spark.createDataFrame(pdf)
    out = sdf.withColumn(
        "fO2", fo2.calculate_fO2("T_K", "P_bar", fO2_buffer="IW", dfO2=1.0)
    ).toPandas()
    exp = iw.fo2_iw_np(1.0, pdf["T_K"].to_numpy(), pdf["P_bar"].to_numpy())
    assert np.allclose(out["fO2"].to_numpy(), exp, rtol=1e-10)
    # IW sits several log units below QFM at the same conditions
    qfm = eos.fo2_qfm(0.0, pdf["T_K"].to_numpy(), pdf["P_bar"].to_numpy())
    assert (out["fO2"].to_numpy() < qfm * 10.0).all()


def test_fo2_grid_fast_path(spark):
    """Broadcast-grid interpolated fO2 vs the exact solvers (the
    SURVEY §4.2 scale path): QFM ≤0.003 dex, IW ≤0.04 dex (phase-
    transition kinks), means ~1e-4."""
    from magmapandas_spark.models import iw as iw_mod

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "T_K": rng.uniform(900, 1900, 300),
            "P_bar": 10 ** rng.uniform(0, 4.9, 300),
        }
    )
    sdf = spark.createDataFrame(pdf)
    for buf, exact_np, tol in (
        ("QFM", eos.fo2_qfm, 0.02),
        ("IW", iw_mod.fo2_iw_np, 0.02),
    ):
        col = fo2.fo2_grid_column(spark, buffer=buf)
        out = sdf.withColumn("fO2", col("T_K", "P_bar")).toPandas()
        exact = exact_np(0.0, pdf["T_K"].to_numpy(), pdf["P_bar"].to_numpy())
        dlog = np.abs(np.log10(out["fO2"].to_numpy()) - np.log10(exact))
        assert dlog.max() < tol, (buf, dlog.max())
        assert dlog.mean() < 1e-3, (buf, dlog.mean())


def test_density_temperature_round_trip(spark):
    """calculate_temperature is the exact inverse of calculate_density
    (``rheology/density.py:117-147``)."""
    from magmapandas_spark.core.geoframe import GeoFrame
    from magmapandas_spark.models import rheology

    pdf = pd.DataFrame(
        {
            "name": ["a", "b", "c"],
            "SiO2": [48.0, 52.0, 58.0],
            "Al2O3": [15.0, 16.0, 17.0],
            "MgO": [8.0, 6.0, 3.0],
            "FeO": [10.0, 8.0, 6.0],
            "CaO": [11.0, 9.0, 7.0],
            "Na2O": [2.5, 3.0, 3.5],
            "K2O": [0.5, 1.0, 2.0],
            "TiO2": [1.5, 1.2, 0.9],
            "H2O": [1.0, 2.0, 4.0],
        }
    )
    species = [c for c in pdf.columns if c != "name"]
    gf = GeoFrame(spark.createDataFrame(pdf), units="wt.%",
                  datatype="oxide", species=species)
    T0, P0 = 1450.0, 3000.0
    dens = rheology.calculate_density(gf, F.lit(T0), F.lit(P0))
    gf2 = GeoFrame(dens, units="wt.%", datatype="oxide", species=species)
    out = rheology.calculate_temperature(
        gf2, F.col("density"), F.lit(P0)
    ).toPandas()
    assert np.allclose(out["T_K"], T0, atol=1e-8)
