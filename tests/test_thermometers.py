"""Melt thermometer tests.

Two layers (SURVEY.md §5 test plan):

1. Exact: Spark expression output vs an independent numpy mirror of the
   published equations, on the reference's example melts.
2. Golden: the reference ships external golden temperatures
   (``docs/source/notebooks/benchmarks/data/melt_thermometers/``) from
   Putirka's and Sun's spreadsheets, evaluated on the Kd-calibration
   compositions; the reference's own benchmark notebooks show scatter vs
   these goldens, so we assert a loose median tolerance.
"""

import json

import numpy as np
import pandas as pd
import pytest

from magmapandas_spark.chem import elements as chem
from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import thermometers as tm
from magmapandas_spark.parse_io.readers import read_melt

from .conftest import BENCH_DATA, KD_CALIBRATION_CSV, MELTS_CSV

W = chem.calculate_weight


@pytest.fixture(scope="module")
def melt_gf(spark):
    return read_melt(spark, MELTS_CSV, index_col="name")


@pytest.fixture(scope="module")
def melts_pd():
    return pd.read_csv(MELTS_CSV).set_index("name")


def mirror_putirka15(pdf, sp, P_bar):
    H2O = pdf["H2O"]
    anhyd = [s for s in sp if s != "H2O"]
    mol = pdf[anhyd].div([W(s) for s in anhyd])
    mol = mol.div(mol.sum(axis=1), axis=0)
    mg_no = mol["MgO"] / (mol["MgO"] + mol["FeO"])
    return (
        815.3
        + 265.5 * mg_no
        + 15.37 * pdf["MgO"]
        + 8.61 * pdf["FeO"]
        + 6.646 * (pdf["Na2O"] + pdf["K2O"])
        + 39.16 * P_bar / 1e4
        - 12.83 * H2O
        + 273.15
    )


@pytest.mark.needs_reference(MELTS_CSV)
def test_putirka2008_15_exact(melt_gf, melts_pd):
    out = (
        tm.putirka2008_15(melt_gf, P_bar=4000.0)
        .select("name", "T_K")
        .toPandas()
        .set_index("name")
    )
    exp = mirror_putirka15(melts_pd, melt_gf.species, 4000.0)
    assert np.allclose(out["T_K"], exp.loc[out.index], rtol=1e-12)


@pytest.mark.needs_reference(MELTS_CSV)
def test_putirka2008_13_exact(melt_gf, melts_pd):
    out = (
        tm.putirka2008_13(melt_gf)
        .select("name", "T_K")
        .toPandas()
        .set_index("name")
    )
    exp = 26.3 * melts_pd["MgO"] + 994.4 + 273.15
    assert np.allclose(out["T_K"], exp.loc[out.index], rtol=1e-12)


@pytest.mark.needs_reference(MELTS_CSV)
def test_offset_applies_see(melt_gf):
    base = tm.putirka2008_15(melt_gf, P_bar=0.0).select("name", "T_K").toPandas()
    up = (
        tm.putirka2008_15(melt_gf, P_bar=0.0, offset=1.0)
        .select("name", "T_K")
        .toPandas()
    )
    assert np.allclose(up["T_K"] - base["T_K"], tm.ERRORS["putirka2008_15"])


@pytest.fixture(scope="module")
def sun_calibration(spark):
    """Kd-calibration compositions for the sun2020 dataset — the inputs
    the reference's thermometer benchmark notebook uses."""
    datasets = json.load(
        open(
            "/root/reference/src/MagmaPandas/model_calibrations/data/calibration_datasets.json"
        )
    )["Kd"]["sun2020"]
    pdf = pd.read_csv(KD_CALIBRATION_CSV)
    pdf = pdf[pdf["ref"].isin(datasets)].set_index("run")
    return pdf


@pytest.mark.needs_reference(KD_CALIBRATION_CSV, BENCH_DATA)
@pytest.mark.parametrize(
    "model", ["putirka2008_13", "putirka2008_14", "putirka2008_15",
              "putirka2008_16", "putirka2008_22"]
)
def test_putirka_golden(spark, sun_calibration, model):
    golden = pd.read_csv(
        f"{BENCH_DATA}/melt_thermometers/melt_thermometer_putirka2008.csv"
    ).set_index("run")
    elements = ["SiO2", "TiO2", "Al2O3", "FeO", "MnO", "MgO", "CaO",
                "Na2O", "K2O", "H2O"]
    pdf = sun_calibration[elements + ["P_bar"]].reset_index()
    sdf = spark.createDataFrame(pdf.rename(columns={"run": "name"}))
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=elements)
    out = (
        tm.melt_thermometers_dict[model](gf, P_bar="P_bar")
        .select("name", "T_K")
        .toPandas()
        .set_index("name")
    )
    # golden file is in Celsius (the notebook plots golden vs T_K-273.15)
    joined = out.join(golden[model].rename("golden"), how="inner").dropna()
    delta = (joined["T_K"] - 273.15) - joined["golden"]
    # external spreadsheet implementation: allow small systematic scatter
    assert np.isfinite(delta).all()
    assert delta.abs().median() < 10.0, delta.describe()


@pytest.mark.needs_reference(KD_CALIBRATION_CSV, BENCH_DATA)
def test_sun2020_golden(spark, sun_calibration):
    golden = pd.read_csv(
        f"{BENCH_DATA}/melt_thermometers/melt_thermometer_sun2020.csv"
    ).set_index("run")
    elements = ["SiO2", "TiO2", "Al2O3", "Cr2O3", "FeO", "MnO", "MgO",
                "CaO", "Na2O", "K2O", "P2O5", "NiO", "H2O", "CO2"]
    pdf = sun_calibration[elements].reset_index()
    pdf = pdf.merge(golden["P_bar"].reset_index(), on="run")
    sdf = spark.createDataFrame(pdf.rename(columns={"run": "name"}))
    gf = GeoFrame(sdf, units="wt.%", datatype="oxide", species=elements)
    out = (
        tm.sun2020(gf, P_bar="P_bar")
        .select("name", "T_K")
        .toPandas()
        .set_index("name")
    )
    joined = out.join(golden["T_K"].rename("golden"), how="inner").dropna()
    delta = joined["T_K"] - joined["golden"]
    assert delta.abs().median() < 10.0, delta.describe()
