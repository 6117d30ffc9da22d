"""Python-UDF solver stages run one task per core, whatever the input
layout, and their values do not depend on it.

Every DataFrame-returning solver entry point sizes its input through
``models.common.solver_input``. The tripwire reads the Python-eval
stage's task count from Spark's status tracker under a job group (not
from timing), and hashes each solver's output over inputs with 1,
``defaultParallelism`` and 32 partitions."""

import hashlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import fe3fe2 as fe_mod
from magmapandas_spark.models import volatiles as vol
from magmapandas_spark.models.common import solver_input
from magmapandas_spark.models.kd import calculate_FeMg_Kd
from magmapandas_spark.relational.suite import synthetic_melt

from .conftest import sf_dir

_group_ids = itertools.count()


@pytest.fixture(scope="module")
def melt_rows(spark):
    """~190 synthetic-melt samples, collected once so each width below
    is rebuilt from the same rows without an exchange."""
    gf = synthetic_melt(spark, sf_dir())
    df = gf.df.filter(F.col("name") % 32 == 0)
    return df.schema, df.collect(), gf.species


def _melt(spark, melt_rows, n_part: int) -> GeoFrame:
    schema, rows, species = melt_rows
    rdd = spark.sparkContext.parallelize(rows, n_part)
    df = spark.createDataFrame(rdd, schema)
    assert df.rdd.getNumPartitions() == n_part
    return GeoFrame(df, units="wt.%", datatype="oxide", species=species)


def _T():
    return F.lit(1400.0) + (F.col("name") % 200).cast("double") / F.lit(2.0)


SOLVERS = {
    "kd_toplis2005": lambda gf: calculate_FeMg_Kd(
        gf, T_K=F.lit(1500.0), P_bar="P_bar", model="toplis2005",
        Fe3Fe2=F.lit(0.2)),
    "kd_blundy2020": lambda gf: calculate_FeMg_Kd(
        gf, T_K=F.lit(1500.0), P_bar="P_bar", model="blundy2020",
        fO2_buffer="QFM_1bar"),
    "kd_saper2022": lambda gf: calculate_FeMg_Kd(
        gf, T_K=F.lit(1500.0), P_bar="P_bar", model="saper2022",
        Fe3Fe2=F.lit(0.2)),
    "fe3fe2_oneill2006": lambda gf: fe_mod.calculate_Fe3Fe2(
        gf, T_K=_T(), P_bar="P_bar", model="oneill2006",
        fO2_buffer="QFM_1bar", dfO2=0.0),
    "fe3fe2_armstrong2019": lambda gf: fe_mod.calculate_Fe3Fe2(
        gf, T_K=_T(), P_bar="P_bar", model="armstrong2019",
        fO2_buffer="QFM_1bar", dfO2=0.0),
    "fe3fe2_deng2020": lambda gf: fe_mod.calculate_Fe3Fe2(
        gf, T_K=_T(), P_bar="P_bar", model="deng2020",
        fO2_buffer="QFM_1bar", dfO2=1.0),
    "fe3fe2_sun2024_deng": lambda gf: fe_mod.calculate_Fe3Fe2(
        gf, T_K=_T(), P_bar="P_bar", model="sun2024_deng",
        fO2_buffer="QFM_1bar"),
    "saturation_mixed": lambda gf: vol.volatile_saturation_pressure(
        gf, T_K=1473.15, species="mixed"),
    "solubility_mixed": lambda gf: vol.volatile_solubility(
        gf, P_bar="P_bar", T_K=1473.15, x_fluid=0.5),
}


def _run(spark, build, gf):
    """(value hash, task count of the job's last stage) for one solver
    output. No shuffle follows the UDF, so the last stage of the last
    job is the Python-eval stage."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    group = f"solver-sizing-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        pdf = build(gf).toPandas()
    finally:
        sc.setJobGroup(None, None)
    stages = [
        s for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    tasks = st.getStageInfo(max(stages)).numTasks
    # every column: the sample key repeats in the synthetic melt
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    digest = hashlib.sha256(
        pdf.to_numpy(dtype=float).tobytes()
    ).hexdigest()
    return digest, tasks


@pytest.mark.parametrize("solver", sorted(SOLVERS))
def test_solver_stage_one_task_per_core(spark, melt_rows, solver):
    dp = spark.sparkContext.defaultParallelism
    results = {
        n: _run(spark, SOLVERS[solver], _melt(spark, melt_rows, n))
        for n in (1, dp, 32)
    }
    for n, (_, tasks) in results.items():
        assert tasks <= dp, (solver, n, tasks)
    hashes = {digest for digest, _ in results.values()}
    assert len(hashes) == 1, (solver, results)


def test_solver_input_widths(spark, melt_rows):
    dp = spark.sparkContext.defaultParallelism
    for n in (1, dp, 32):
        df = _melt(spark, melt_rows, n).df
        sized = solver_input(df)
        assert sized.rdd.getNumPartitions() == dp, n
        assert sized.count() == df.count()
    # narrow inputs fan out round-robin, wide ones coalesce (no shuffle)
    plan = solver_input(_melt(spark, melt_rows, 32).df)._jdf.queryExecution()
    assert "Exchange" not in plan.executedPlan().toString()


def test_solver_output_values_finite(spark, melt_rows):
    """Guard against a hash match on all-NaN output."""
    out = SOLVERS["kd_toplis2005"](_melt(spark, melt_rows, 4)).toPandas()
    assert np.isfinite(out["Kd"].to_numpy()).all()
