"""The graph loops give the same values whatever the
partitioning (ROADMAP 5(c), graph slice).

The graph loops take their width from unsized exchanges that AQE
coalesces; a window, join or aggregate that only sees part of a key's
rows would change a value here. Each output is compared by a digest
of its rows in sorted order."""

import hashlib

from pyspark.sql import functions as F

from magmapandas_spark.operators import dedup, graph

SF_DIR = "/root/testdata/sf0.001"

QUERIES = (
    "q_pagerank", "q_personalized_pagerank", "q_kcore", "q_label_propagation",
)
#: the k-core cases tests/test_round7b.py checks for fixpoint consistency
KCORE_CASES = [(k, rounds) for k in (8, 10) for rounds in (2, 3, 4)]


def _digest(df) -> str:
    pdf = df.toPandas()
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()


def _outputs(spark) -> dict[str, str]:
    out = {q: _digest(getattr(graph, q)(spark, "")) for q in QUERIES}
    for k, rounds in KCORE_CASES:
        peeled = graph.kcore_peel(
            graph.synthetic_tri_graph(spark), k=k, rounds=rounds
        )
        out[f"kcore k={k} rounds={rounds}"] = _digest(peeled)
    out["connected_components"] = _digest(
        graph.connected_components(
            dedup._gate_pairs(spark, SF_DIR), driver_threshold=0
        )
    )
    return out


def test_graph_loops_shuffle_partition_invariant(spark):
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    try:
        results = {}
        for n in (1, 8, 64):
            spark.conf.set(key, str(n))
            results[n] = _outputs(spark)
    finally:
        spark.conf.set(key, prior)
    for name in results[8]:
        assert results[1][name] == results[8][name] == results[64][name], name


def test_pagerank_shuffle_partitions_invariant(spark):
    """The PageRank functions called directly, beside the gate
    queries that wrap them."""
    edges = graph.synthetic_link_graph(spark)
    seeds = spark.range(0, 500, 50).select(F.col("id").alias("node"))
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    ranks = {}
    try:
        for n in (1, 8, 64):
            spark.conf.set(key, str(n))
            ranks[n] = (
                _digest(graph.pagerank(edges, iterations=10)),
                _digest(
                    graph.personalized_pagerank(edges, seeds, iterations=10)
                ),
            )
    finally:
        spark.conf.set(key, prior)
    assert ranks[1] == ranks[8] == ranks[64], ranks
    # the gate queries run the same ten iterations on the same graph
    assert ranks[8] == (
        _digest(graph.q_pagerank(spark, "")),
        _digest(graph.q_personalized_pagerank(spark, "")),
    )
