"""Python-UDF solver stages run one task per core, whatever the input
layout, and their values do not depend on it.

Every DataFrame-returning solver entry point sizes its input through
``models.common.solver_input``. The tripwire reads the Python-eval
stage's task count from Spark's status tracker under a job group (not
from timing), and hashes each solver's output over inputs with 1,
``defaultParallelism`` and 32 partitions.

A second tripwire reads the workers' own import state: a solver task
leaves no ``zipimporter`` in ``sys.path_importer_cache``, so the next
task's ``importlib.invalidate_caches()`` re-reads no zip archive."""

import hashlib
import importlib
import itertools
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.core.geoframe import GeoFrame
from magmapandas_spark.models import fe3fe2 as fe_mod
from magmapandas_spark.models import volatiles as vol
from magmapandas_spark.models.common import (
    drop_zip_finders,
    solver_column,
    solver_input,
)
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


def _zip_finders() -> int:
    return sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())


def test_solver_tasks_leave_no_zip_finders(spark):
    """Each row reads the zipimporter count of the worker that ran its
    kernel; without the purge a worker holds a dozen or more (pyspark.zip
    alone is cached once per package directory)."""
    def zip_finders(arrays):  # a closure, so it pickles by value
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        return np.full(len(arrays["x"]), float(n))

    dp = spark.sparkContext.defaultParallelism
    df = spark.range(0, 8 * dp, numPartitions=dp).select(
        solver_column(zip_finders, {"x": F.col("id").cast("double")})
        .alias("n"))
    for _ in range(2):  # the second run's tasks reuse the same workers
        counts = [r.n for r in df.collect()]
        assert len(counts) == 8 * dp and set(counts) == {0.0}, counts


def test_zip_imports_survive_drop_zip_finders(tmp_path, monkeypatch):
    """A module in a zip on ``sys.path`` still imports after the purge
    and the per-task ``invalidate_caches()``, and the archive's
    directory is not read again (the cached one is reused)."""
    archive = str(tmp_path / "finder_probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("finder_probe_pkg/__init__.py", "")
        zf.writestr("finder_probe_pkg/first.py", "VALUE = 1\n")
        zf.writestr("finder_probe_pkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("finder_probe_pkg.first").VALUE == 1
        directory = zipimport._zip_directory_cache[archive]
        assert _zip_finders() > 0
        drop_zip_finders()
        assert _zip_finders() == 0
        importlib.invalidate_caches()
        assert importlib.import_module("finder_probe_pkg.second").VALUE == 2
        assert zipimport._zip_directory_cache[archive] is directory
    finally:
        for mod in ("finder_probe_pkg", "finder_probe_pkg.first",
                    "finder_probe_pkg.second"):
            sys.modules.pop(mod, None)
