"""Job-count tripwire for the fixed-round graph loops.

A round of ``pagerank``, ``personalized_pagerank``, ``kcore_peel`` or
``min_label_propagation`` costs one shuffle, with no broadcast and no
eager job (ROADMAP item 2: the loops are bound by driver-side job
construction, not by data). The counts are read from Spark's status
tracker under job groups — construction (the call that builds the
DataFrame, with every job it triggers) and execution (the full plan
through a ``noop`` write) separately — so a per-round join, broadcast
or eager checkpoint coming back fails here, not in a timing."""

import itertools
import re

import pytest

from magmapandas_spark.operators import graph

_group_ids = itertools.count()

#: (construction jobs, construction + execution jobs) upper bounds:
#: the counts at 8 shuffle partitions plus two jobs of headroom. The
#: join-per-round loops ran pagerank 55 + 3, personalized 58 + 3,
#: kcore 14-15 + 9 and label propagation 12 + 2.
BOUNDS = {
    "q_pagerank": (26, 29),
    "q_personalized_pagerank": (29, 32),
    "q_kcore": (0, 9),
    "q_label_propagation": (0, 7),
}


def _job_counts(spark, query: str) -> tuple[int, int]:
    sc = spark.sparkContext
    group = f"graph-floor-{next(_group_ids)}"
    try:
        sc.setJobGroup(f"{group}-build", group)
        df = getattr(graph, query)(spark, "")
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


@pytest.mark.parametrize(
    "query, rounds", [("q_kcore", 3), ("q_label_propagation", 2)]
)
def test_window_loop_round_is_one_shuffle(spark, query, rounds):
    """k-core and label propagation carry node state on the edge
    rows: no join and no broadcast anywhere in the plan, and exactly
    one exchange on ``b`` per round."""
    df = getattr(graph, query)(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    per_round = re.findall(r"Exchange hashpartitioning\(b#", plan)
    assert len(per_round) == rounds, plan
