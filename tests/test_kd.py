"""Kd model tests: golden parity (sun2020 spreadsheet), iteration-tier
equivalence with a pandas mirror of the reference's
``iterate_Kd_vectorized``, and the ol-melt thermometer join."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import kd as kd_mod
from magmapandas_spark.models import thermometers as tm
from magmapandas_spark.models.common import mole_fractions_np
from magmapandas_spark.parse_io.readers import read_melt, read_olivine

from .conftest import BENCH_DATA, KD_CALIBRATION_CSV, MELTS_CSV, OLIVINES_CSV

SUN_ELEMENTS = ["SiO2", "TiO2", "Al2O3", "Cr2O3", "FeO", "MnO", "MgO",
                "CaO", "Na2O", "K2O", "P2O5", "NiO", "H2O", "CO2"]


@pytest.fixture(scope="module")
def sun_inputs():
    datasets = json.load(
        open(
            "/root/reference/src/MagmaPandas/model_calibrations/data/calibration_datasets.json"
        )
    )["Kd"]["sun2020"]
    pdf = pd.read_csv(KD_CALIBRATION_CSV)
    pdf = pdf[pdf["ref"].isin(datasets)].set_index("run")
    return pdf


@pytest.mark.needs_reference(KD_CALIBRATION_CSV, BENCH_DATA)
def test_kd_sun2020_golden(spark, sun_inputs):
    """Reproduces the reference's Kd benchmark: sun2020 at Fe3Fe2=0.2 vs
    the Sun spreadsheet Kd_Fetotal (``benchmarks/Kd.ipynb``)."""
    golden = pd.read_csv(f"{BENCH_DATA}/Kd/Kd_sun2020.csv").set_index("run")
    pdf = sun_inputs[SUN_ELEMENTS].fillna(0.0).reset_index().rename(
        columns={"run": "name"}
    )
    sdf = spark.createDataFrame(pdf)
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=SUN_ELEMENTS)
    fe3fe2 = 0.2
    out = kd_mod.calculate_FeMg_Kd(
        gf, T_K=1673.15, P_bar=1e4, model="sun2020", Fe3Fe2=F.lit(fe3fe2)
    )
    res = out.select("name", "Kd").toPandas().set_index("name")
    fe3_fetot = fe3fe2 / (1 + fe3fe2)
    kd_fetot = res["Kd"] * (1 - fe3_fetot)
    joined = kd_fetot.rename("pred").to_frame().join(
        golden["Kd_Fetotal"], how="inner"
    ).dropna()
    delta = joined["pred"] - joined["Kd_Fetotal"]
    assert delta.abs().median() < 0.01, delta.describe()


def _mirror_iterate(kd_fn, mol, T, P, fe3fe2, fo0=0.85, conv=0.001):
    """Literal pandas/numpy transcription of the published iteration
    scheme for cross-checking the UDF."""
    fo = np.full_like(T, fo0)
    fe2mg = mol["FeO"] * (1 / (1 + fe3fe2)) / mol["MgO"]
    kd = kd_fn(mol, fo, T, P, Fe3Fe2=fe3fe2)
    fo_eq = 1 / (1 + kd * fe2mg)
    delta = np.abs(fo - fo_eq) / fo
    active = delta > conv
    for _ in range(100):
        if not active.any():
            break
        kd = kd_fn(mol, fo_eq, T, P, Fe3Fe2=fe3fe2)
        fo = np.where(active, fo_eq, fo)
        fo_eq = 1 / (1 + kd * fe2mg)
        delta = np.abs(fo - fo_eq) / fo
        active = delta > conv
    return kd


@pytest.mark.needs_reference(KD_CALIBRATION_CSV)
@pytest.mark.parametrize("model", ["toplis2005", "blundy2020", "saper2022"])
def test_kd_iteration_tier(spark, sun_inputs, model):
    pdf = sun_inputs[SUN_ELEMENTS + ["T_K", "P_bar"]].dropna(
        subset=["T_K", "P_bar"]
    ).fillna(0.0).head(40).reset_index().rename(columns={"run": "name"})
    sdf = spark.createDataFrame(pdf)
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=SUN_ELEMENTS)
    fe3fe2 = 0.15
    out = kd_mod.calculate_FeMg_Kd(
        gf, T_K="T_K", P_bar="P_bar", model=model, Fe3Fe2=F.lit(fe3fe2)
    )
    res = out.select("name", "Kd").toPandas().set_index("name")

    wt = {s: pdf[s].to_numpy(float) for s in SUN_ELEMENTS}
    mol = mole_fractions_np(wt)
    T = pdf["T_K"].to_numpy(float)
    P = pdf["P_bar"].to_numpy(float)
    exp = _mirror_iterate(
        kd_mod._KD_SOLVER_NP[model], mol, T, P, np.full_like(T, fe3fe2)
    )
    got = res.loc[pdf["name"]]["Kd"].to_numpy()
    # iteration count couples rows within a batch (reference semantics:
    # the loop runs while ANY row is unconverged), so Spark's partition
    # boundaries shift results within the fo_converge tolerance
    assert np.allclose(got, exp, rtol=5e-3), model
    assert np.isfinite(got).all()
    # sun2020 calibration data spans kimberlitic (very low SiO2) melts
    assert ((got > 0.005) & (got < 0.8)).all(), got


@pytest.mark.needs_reference(KD_CALIBRATION_CSV)
def test_kd_expression_tier(spark, sun_inputs):
    pdf = sun_inputs[SUN_ELEMENTS].fillna(0.0).head(20).reset_index().rename(
        columns={"run": "name"}
    )
    sdf = spark.createDataFrame(pdf)
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=SUN_ELEMENTS)
    for model in ["putirka2016_8a", "putirka2016_8b", "putirka2016_8c",
                  "putirka2016_8d"]:
        out = kd_mod.calculate_FeMg_Kd(
            gf, T_K=1673.15, P_bar=1e4, model=model, Fe3Fe2=F.lit(0.2)
        )
        res = out.select("Kd").toPandas()["Kd"]
        assert np.isfinite(res).all(), model
        if model != "putirka2016_8d":
            # 8d is calibrated only for SiO2<45 + high alkalis; out-of-range
            # compositions legitimately go negative
            assert res.between(0.05, 0.7).all(), (model, res.describe())
    # 8a is the constant
    out = kd_mod.calculate_FeMg_Kd(
        gf, T_K=1.0, P_bar=1.0, model="putirka2016_8a", Fe3Fe2=F.lit(0.2)
    )
    assert (out.select("Kd").toPandas()["Kd"] == 0.33).all()


@pytest.mark.needs_reference(MELTS_CSV)
def test_observed_kd_and_equilibrium_fo(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    out = kd_mod.observed_FeMg_Kd(
        melt, forsterite=0.85, T_K=1473.15, P_bar=2000.0,
        Fe3Fe2=F.lit(0.2),
    )
    res = out.select("Kd_observed").toPandas()["Kd_observed"]
    assert np.isfinite(res).all()
    assert (res > 0).all()


@pytest.mark.needs_reference(MELTS_CSV, OLIVINES_CSV)
def test_olmelt_thermometer(spark):
    melt = read_melt(spark, MELTS_CSV, index_col="name")
    olivine = read_olivine(spark, OLIVINES_CSV, index_col="name")
    out = tm.putirka2007_4(melt, olivine, P_bar=2000.0)
    res = out.select("name", "T_K").toPandas()
    # joined on shared sample names only
    melt_names = set(pd.read_csv(MELTS_CSV)["name"])
    ol_names = set(pd.read_csv(OLIVINES_CSV)["name"])
    assert len(res) == len(melt_names & ol_names)
    assert res["T_K"].between(1200, 1800).all(), res["T_K"].describe()
