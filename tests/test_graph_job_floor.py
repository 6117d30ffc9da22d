"""Job-count tripwire for the graph loops.

A round of ``pagerank``, ``personalized_pagerank``, ``kcore_peel`` or
``min_label_propagation`` costs one shuffle, with no broadcast and no
eager job, and ``connected_components`` runs one eager probe every
second round (ROADMAP item 2: the loops are bound by driver-side job
construction, not by data). The counts are read from Spark's status
tracker under job groups — construction (the call that builds the
DataFrame, with every job it triggers) and execution (the full plan
through a ``noop`` write) separately — so a per-round join, broadcast
or eager checkpoint coming back fails here, not in a timing."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from magmapandas_spark.operators import dedup, graph

SF_DIR = "/root/testdata/sf0.001"
_group_ids = itertools.count()

#: (construction jobs, construction + execution jobs) upper bounds:
#: the counts at 8 shuffle partitions plus two jobs of headroom. The
#: join-per-round loops ran pagerank 55 + 3, personalized 58 + 3,
#: kcore 14-15 + 9, label propagation 12 + 2 and the sf0.001 dedup
#: clusters 65 + 3; the co-partitioned PageRank loops 24 + 3 and
#: 27 + 3.
BOUNDS = {
    "q_pagerank": (5, 19),
    "q_personalized_pagerank": (4, 19),
    "q_kcore": (0, 9),
    "q_label_propagation": (0, 7),
    "q_dedup_clusters_distributed": (16, 20),
}


def _query(name: str):
    return getattr(graph, name, None) or getattr(dedup, name)


def _job_counts(spark, query: str) -> tuple[int, int]:
    sc = spark.sparkContext
    group = f"graph-floor-{next(_group_ids)}"
    # the dedup gate queries share one cached pair relation: fill it
    # first, so the count is the clustering loop's alone
    dedup._gate_pairs(spark, SF_DIR)
    try:
        sc.setJobGroup(f"{group}-build", group)
        df = _query(query)(spark, SF_DIR)
        sc.setJobGroup(f"{group}-exec", group)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    st = sc.statusTracker()
    return (
        len(st.getJobIdsForGroup(f"{group}-build")),
        len(st.getJobIdsForGroup(f"{group}-exec")),
    )


@pytest.mark.parametrize("query", sorted(BOUNDS))
def test_graph_loop_job_floor(spark, query):
    build, run = _job_counts(spark, query)
    max_build, max_total = BOUNDS[query]
    assert build <= max_build, (query, build, run)
    assert build + run <= max_total, (query, build, run)


def _joins(plan: str) -> int:
    return sum("Join" in line.split("[")[0] for line in plan.splitlines())


@pytest.mark.parametrize(
    "query, rounds",
    [
        ("q_kcore", 3),
        ("q_label_propagation", 2),
        ("q_pagerank", 10),
        ("q_personalized_pagerank", 10),
    ],
)
def test_window_loop_round_is_one_shuffle(spark, query, rounds):
    """k-core, label propagation and PageRank carry node state on the
    edge rows: exactly one exchange on ``b`` per round, no Python, and
    no join and no broadcast inside a round. The only joins are
    personalized PageRank's two broadcast seed-flag joins, made once
    before the loop."""
    df = getattr(graph, query)(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Pandas" not in plan, plan
    per_round = re.findall(r"Exchange hashpartitioning\(b#", plan)
    assert len(per_round) == rounds, plan
    loop = plan[: plan.rfind("Exchange hashpartitioning(b#")]
    assert _joins(loop) == 0 and "BroadcastExchange" not in loop, plan
    joins = 2 if query == "q_personalized_pagerank" else 0
    assert _joins(plan) == plan.count("BroadcastExchange") == joins, plan


def test_personalized_pagerank_joins_do_not_grow_with_iterations(spark):
    edges = graph.synthetic_link_graph(spark)
    seeds = spark.range(0, graph._N, 50).select(F.col("id").alias("node"))
    joins = {
        it: _joins(
            graph.personalized_pagerank(edges, seeds, iterations=it)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for it in (2, 10)
    }
    assert joins[2] == joins[10] == 2, joins


def test_connected_components_final_plan_has_no_join(spark):
    """The star loop leaves its labels on edge rows: the plan the
    caller runs reads the last probe's checkpoint, with no join."""
    df = dedup.q_dedup_clusters_distributed(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
