"""Model-registry extension hooks (SURVEY §2.10)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame


def _gf(spark):
    pdf = pd.DataFrame(
        {"name": ["a", "b"], "SiO2": [48.0, 52.0], "MgO": [8.0, 6.0],
         "FeO": [9.0, 8.0]}
    )
    return GeoFrame(spark.createDataFrame(pdf), units="wt.%",
                    datatype="oxide", species=["SiO2", "MgO", "FeO"])


def test_register_thermometer(spark):
    from magmapandas_spark.models.thermometers import (
        melt_thermometers_dict,
        register_thermometer,
    )

    @register_thermometer("toy2025")
    def toy2025(melt, P_bar=0.0, offset=0.0, out_col="T_K"):
        return melt.df.withColumn(
            out_col, F.lit(1000.0) + F.col("MgO") * F.lit(10.0)
        )

    assert "toy2025" in melt_thermometers_dict
    out = melt_thermometers_dict["toy2025"](_gf(spark)).toPandas()
    assert np.allclose(sorted(out["T_K"]), [1060.0, 1080.0])
    # config accepts it after whitelisting? config validates against the
    # static set — direct registry dispatch is the extension path
    del melt_thermometers_dict["toy2025"]


def test_register_fe3fe2_expr_model(spark):
    from magmapandas_spark.models import fe3fe2

    def fixed_ratio(mol, T_K, fO2, P_bar):
        return F.lit(0.42)

    fe3fe2.register_fe3fe2_model("toy_fixed42", expr_builder=fixed_ratio)
    try:
        out = fe3fe2.calculate_Fe3Fe2(
            _gf(spark), T_K=F.lit(1400.0), P_bar=F.lit(1.0),
            model="toy_fixed42", fO2=F.lit(1e-8),
        ).toPandas()
        assert "toy_fixed42" in fe3fe2.Fe3Fe2_models
        assert np.allclose(out["Fe3Fe2"], 0.42)
    finally:
        del fe3fe2.EXPR_MODELS["toy_fixed42"]
        fe3fe2.Fe3Fe2_models.remove("toy_fixed42")


def test_register_solubility_model(spark):
    from magmapandas_spark.models import volatiles as vol

    vol.register_solubility_model(
        "toy_sol",
        saturation={
            "co2": lambda wt, w, c, T: np.asarray(c, dtype=float) * 1e3
        },
    )
    gf = _gf(spark)
    gf2 = GeoFrame(
        gf.df.withColumn("CO2", F.lit(0.15)),
        units=gf.units, datatype=gf.datatype,
        species=gf.species + ["CO2"],
    )
    out = vol.volatile_saturation_pressure(
        gf2, T_K=1473.15, model="toy_sol", species="co2"
    ).toPandas()
    assert np.allclose(out["P_bar_sat"], 150.0)
    del vol.SATURATION_MODELS["toy_sol"]


def test_register_kd_expr_model(spark):
    from magmapandas_spark.models import kd

    def si_scaled(wt, mol, T_K, P_bar, Fe3Fe2):
        return F.lit(0.3) + mol["SiO2"] * F.lit(0.01)

    kd.register_kd_model("toy_kd_expr", expr_builder=si_scaled)
    try:
        gf = _gf(spark)
        out = kd.calculate_FeMg_Kd(
            gf, T_K=F.lit(1500.0), P_bar=F.lit(1.0),
            model="toy_kd_expr", Fe3Fe2=F.lit(0.2), out_col="Kd",
        ).toPandas()
        assert "toy_kd_expr" in kd.Kd_models
        assert (out["Kd"] > 0.3).all() and (out["Kd"] < 0.32).all()
    finally:
        del kd._KD_EXPR_REGISTRY["toy_kd_expr"]
        kd.Kd_models.remove("toy_kd_expr")


def test_register_kd_solver_model(spark):
    """A registered numpy kernel runs through the same forsterite
    fixed point as the built-in solver models."""
    import numpy as np

    from magmapandas_spark.models import kd

    def toy_kernel(mol, forsterite, T_K, P_bar, Fe3Fe2=None, **_):
        return 0.3 + 0.05 * (1.0 - 2.0 * forsterite)

    kd.register_kd_model("toy_kd_solver", np_kernel=toy_kernel)
    try:
        gf = _gf(spark)
        out = kd.calculate_FeMg_Kd(
            gf, T_K=F.lit(1500.0), P_bar=F.lit(1.0),
            model="toy_kd_solver", Fe3Fe2=F.lit(0.2), out_col="Kd",
        ).toPandas()
        k = out["Kd"].to_numpy()
        # converged fixed point: kd == kernel at equilibrium forsterite
        assert np.isfinite(k).all()
        assert ((k > 0.25) & (k < 0.35)).all()
    finally:
        del kd._KD_SOLVER_NP["toy_kd_solver"]
        kd.Kd_models.remove("toy_kd_solver")
