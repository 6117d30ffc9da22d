"""The persisted synthetic melt holds one range partition per core, and
the model queries that read it give the same values whatever its
layout (ROADMAP 5(c), melt slice).

``relational.suite.synthetic_melt`` persists the melt range-partitioned
and sorted on ``name``, so a narrow model query's ``orderBy("name")``
needs no exchange and no sort, and its stages run one task per core.
The per-row model queries (one Arrow-UDF solver stage over melt rows)
sort nothing: each row carries its ``name`` and the gate hashes rows
unordered, so on any melt they plan no exchange and no sort, and run
as one job. The invariance check swaps the memoized melt for 1-,
``defaultParallelism``- and 32-partition range layouts of the same rows
and compares value hashes of the ``geochem_models`` benchmark queries
and of those solver queries."""

import itertools

import pytest

from magmapandas_spark.relational import suite
from perfbench.check import value_hash
from perfbench.workloads import WORKLOADS

from .conftest import sf_dir

SF = sf_dir()
QUERIES = WORKLOADS["geochem_models"].queries
# gate queries whose Arrow-UDF stage reads the melt's rows one to one
SOLVER_QUERIES = (
    "volatile_saturation_im", "allison_saturation", "fe3fe2_deng2020",
    "kd_toplis_iteration", "fe3fe2_errors", "kd_blundy_saper",
    "fe3fe2_solvers2",
)
_group_ids = itertools.count()


def _operators(root) -> list[str]:
    """Node names of a physical plan. A cached relation's own plan is
    not a child of its scan: :func:`_cached_plan` reaches it."""
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    names, todo = [], [root]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _cached_plan(df):
    """The physical plan a persisted DataFrame's cache is built from."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    relation = cache.lookupCachedData(df._jdf).get().cachedRepresentation()
    return relation.cacheBuilder().cachedPlan()


def test_melt_one_range_partition_per_core(spark):
    """Built under a shuffle width other than the core count, the melt
    still has one partition per core, and its build shuffles once: the
    range exchange spreads the rows, with no round-robin fan-out
    before it."""
    dp = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    suite.reset_melt_cache(spark, SF)
    spark.conf.set(key, str(4 * dp))
    try:
        melt = suite.synthetic_melt(spark, SF).df
        build = _operators(_cached_plan(melt))
        assert melt.rdd.getNumPartitions() == dp
        query = suite.queries()["thermometer_putirka2008_15"](spark, SF)
        ops = _operators(query._jdf.queryExecution().executedPlan())
    finally:
        spark.conf.set(key, prior)
    assert build.count("Exchange") == 1, build
    assert "InMemoryTableScan" in ops
    assert "Exchange" not in ops and "Sort" not in ops, ops


def test_geochem_values_melt_layout_invariant(spark):
    key = (id(spark), SF)
    melt = suite.synthetic_melt(spark, SF).df
    cached = suite._melt_cache[key]
    qmap = suite.queries()
    dp = spark.sparkContext.defaultParallelism
    names = QUERIES + tuple(q for q in SOLVER_QUERIES if q not in QUERIES)
    results = {}
    try:
        for n in (1, dp, 32):
            layout = (melt.repartitionByRange(n, "name")
                      .sortWithinPartitions("name").persist())
            assert layout.rdd.getNumPartitions() == n
            suite._melt_cache[key] = (spark, layout)
            results[n] = {}
            for name in names:
                pdf = qmap[name](spark, SF).toPandas()
                if name not in SOLVER_QUERIES:  # ends in orderBy("name")
                    assert pdf["name"].is_monotonic_increasing, (name, n)
                results[n][name] = (value_hash(pdf), len(pdf))
            layout.unpersist()
    finally:
        suite._melt_cache[key] = cached
    for name in names:
        assert results[1][name] == results[dp][name] == results[32][name], (
            name, results)
        assert results[1][name][1] > 0, name


@pytest.mark.parametrize("name", SOLVER_QUERIES)
def test_solver_query_plans_no_exchange_on_melt(spark, name):
    """On the persisted melt a per-row solver query plans neither an
    exchange nor a sort, and its write is one job."""
    sc = spark.sparkContext
    suite.synthetic_melt(spark, SF).df.count()  # materialized
    query = suite.queries()[name](spark, SF)
    ops = _operators(query._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in ops and "ArrowEvalPython" in ops, ops
    assert "Exchange" not in ops and "Sort" not in ops, ops
    group = f"melt-solver-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        query.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_solver_query_first_on_fresh_melt(spark):
    """A solver query that is the first to read a rebuilt melt, whose
    partitioning AQE does not know yet, plans no exchange and no sort
    of its own, and gives the same values."""
    name = "kd_toplis_iteration"
    qmap = suite.queries()
    suite.synthetic_melt(spark, SF).df.count()
    expected = qmap[name](spark, SF).toPandas()
    suite.reset_melt_cache(spark, SF)
    query = qmap[name](spark, SF)
    ops = _operators(query._jdf.queryExecution().executedPlan())
    assert ops.count("Exchange") == 0 and ops.count("Sort") == 0, ops
    pdf = query.toPandas()
    assert value_hash(pdf) == value_hash(expected)
    assert len(pdf) == len(expected) > 0
