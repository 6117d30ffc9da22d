"""Integer PageRank: mass conservation, determinism, dangling
semantics, ranking sanity and exactness against a Python replay of
the oracle recurrence."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from magmapandas_spark.operators.graph import (
    _N,
    SCALE,
    pagerank,
    personalized_pagerank,
    synthetic_link_graph,
)


def _ranks(df) -> dict[int, int]:
    return {r.node: r.rank for r in df.collect()}


def test_mass_bounded_and_deterministic(spark):
    edges = synthetic_link_graph(spark)
    a = pagerank(edges, iterations=5).orderBy("node").toPandas()
    b = pagerank(edges, iterations=5).orderBy("node").toPandas()
    assert a.equals(b)
    # total mass ≤ S and within truncation slack of S (no dangling
    # nodes in this graph; each round loses < 3 units per node)
    tot = int(a["rank"].sum())
    assert tot <= SCALE
    assert SCALE - tot < 500 * 3 * 5 + 500


def test_hub_outranks_orphan(spark):
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (5, 6), (6, 5)],
        "src long, dst long",
    )
    pr = pagerank(edges, iterations=10).toPandas().set_index("node")
    # node 0 receives 4 in-links — must outrank the 2-cycle nodes
    assert pr.loc[0, "rank"] > pr.loc[5, "rank"]
    assert pr.loc[0, "rank"] > pr.loc[6, "rank"]


def test_dangling_node_keeps_teleport_only(spark):
    # 0 -> 1; 1 has no out-links (dangling): after round 1, node 1's
    # inflow comes only from 0's damped rank; node 0 gets teleport only
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    pr = pagerank(edges, iterations=1).toPandas().set_index("node")
    teleport = (15 * SCALE) // (100 * 2)
    assert pr.loc[0, "rank"] == teleport
    assert pr.loc[1, "rank"] == teleport + (85 * (SCALE // 2)) // 100


def test_personalized_pagerank_mass_concentrates_on_seeds(spark):
    """PPR sanity: seeds hold strictly more rank than the uniform
    variant gives them, and non-seed rank is pure inflow (no teleport
    leakage to non-seeds)."""
    g = synthetic_link_graph(spark)
    seeds = spark.range(0, _N, 50).select(F.col("id").alias("node"))
    ppr = _ranks(personalized_pagerank(g, seeds, iterations=10))
    pr = _ranks(pagerank(g, iterations=10))
    seed = {n for n in ppr if n % 50 == 0}
    # teleport concentrates on seeds
    assert sum(ppr[n] for n in seed) > sum(pr[n] for n in seed)
    # mass genuinely propagates off-seed
    assert any(ppr[n] > 0 for n in ppr if n not in seed)
    # a non-seed node with no in-link gets neither inflow nor teleport
    dsts = {r.dst for r in g.select("dst").distinct().collect()}
    unlinked = [n for n in ppr if n not in seed and n not in dsts]
    assert unlinked
    assert all(ppr[n] == 0 for n in unlinked)


#: duplicate edge 1→2 (so 1 sends 2/3 of its damped rank to 2 and 1/3
#: to 3), self-loop 3→3, dangling node 4 (no out-link), source-only
#: node 5 (no in-link) and a second component 7→8→9→7
_MULTIGRAPH = [
    (1, 2), (1, 2), (1, 3), (2, 3), (3, 3), (3, 1), (2, 4), (5, 1),
    (7, 8), (8, 9), (9, 7),
]


def _replay(edges, iterations: int, seeds=None) -> dict[int, int]:
    """The oracle recurrence in Python integers: every edge instance
    passes ``(85 · rank) div (100 · outdeg)`` of its source to its
    destination, and the teleport share (all nodes, or the seeds)
    is added to the inflow."""
    nodes = {x for e in edges for x in e}
    outdeg = Counter(u for u, _ in edges)
    n = len(nodes) if seeds is None else len(set(seeds))
    w = {x: int(seeds is None or x in seeds) for x in nodes}
    rank = {x: w[x] * (SCALE // n) for x in nodes}
    for _ in range(iterations):
        new = {x: w[x] * ((15 * SCALE) // (100 * n)) for x in nodes}
        for u, v in edges:
            new[v] += (85 * rank[u]) // (100 * outdeg[u])
        rank = new
    return rank


@pytest.mark.parametrize("iterations", [0, 1, 2, 5])
def test_pagerank_matches_python_replay(spark, iterations):
    edges = spark.createDataFrame(_MULTIGRAPH, "src long, dst long")
    assert _ranks(pagerank(edges, iterations=iterations)) == _replay(
        _MULTIGRAPH, iterations
    )


@pytest.mark.parametrize("iterations", [0, 1, 2, 5])
def test_personalized_pagerank_matches_python_replay(spark, iterations):
    """Seed 99 is in no edge: it still counts in the teleport
    denominator, and its share leaks. Seed 7 is listed twice and
    counts once."""
    edges = spark.createDataFrame(_MULTIGRAPH, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (7,), (7,), (99,)], "node long")
    got = _ranks(personalized_pagerank(edges, seeds, iterations=iterations))
    assert got == _replay(_MULTIGRAPH, iterations, seeds={1, 7, 99})


def test_two_hop_supernode_cap_bounds_a_one_hub_graph(spark):
    """The max_degree guard truncates a star hub's middle-role
    adjacency: exactly max_degree spokes keep their 2-hop reach, the
    rest fall back to their (uncapped) 1-hop reach, and the hub is
    the only node flagged capped."""
    from magmapandas_spark.operators.graph import two_hop_reach

    n_spokes, k = 200, 10
    edges = spark.range(1, n_spokes + 1).selectExpr(
        "CAST(0 AS BIGINT) AS src", "id AS dst"
    )
    out = (
        two_hop_reach(edges, top_k=n_spokes + 1, max_degree=k)
        .toPandas()
        .set_index("node")
    )
    # hub: degree n_spokes, reach unaffected (1-hop side is uncapped)
    assert bool(out.loc[0, "capped"]) is True
    assert int(out.loc[0, "reach_2hop"]) == n_spokes
    spokes = out.drop(index=0)
    assert not spokes["capped"].any()
    # kept spokes reach hub + (k-1) surviving siblings; dropped
    # spokes reach only the hub — the deg² fan-out is gone
    counts = spokes["reach_2hop"].value_counts().to_dict()
    assert counts == {k: k, 1: n_spokes - k}
    # determinism of the hash-truncated adjacency
    again = (
        two_hop_reach(edges, top_k=n_spokes + 1, max_degree=k)
        .toPandas()
        .set_index("node")
    )
    assert out.equals(again)


def test_two_hop_cap_above_max_degree_is_exact(spark):
    """A bound above the graph's max degree keeps results identical
    to the uncapped run (gate posture: max_degree=1000)."""
    from magmapandas_spark.operators.graph import (
        synthetic_tri_graph,
        two_hop_reach,
    )

    edges = synthetic_tri_graph(spark)
    exact = two_hop_reach(edges).drop("capped").toPandas()
    capped = two_hop_reach(edges, max_degree=1000).toPandas()
    assert not capped["capped"].any()
    assert exact.equals(capped.drop(columns=["capped"]))
