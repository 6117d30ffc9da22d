"""Iterative graph analytics: PageRank (beyond-reference surface — the
canonical web-graph computation over a crawl), triangles, k-core,
label propagation and connected components.

Determinism design: textbook PageRank sums float contributions, whose
partition-order summation can never be exactly oracle-checked. This
implementation therefore runs in SCALED INTEGER arithmetic — ranks are
bigints at scale ``S`` (default 1e12), the damping step is
``(85 · r) div (100 · outdeg)`` and the teleport term
``(15 · S) div (100 · N)`` — every operation an exact integer multiply
/ floored divide / bigint sum, so any engine reproduces every
iteration bit-for-bit and the gate can hash iteration 10 directly.
Truncation loses < outdeg ulps of S per node per round (≪ 1e-9
relative at the default scale) — far below float PageRank's own
iteration tolerance.

PageRank plan shape: rank state rides on directed arc rows, like the
label loops further down — each edge instance twice, once with each
endpoint as ``a``, carrying outdeg(source), the teleport shares and
a's rank. A round is one exchange on ``b``, a window on ``b`` that sums
b's inflow from its in-edge rows, and an a/b swap: no join, no
broadcast, no cache and no driver job. The loop is a fixed iteration
count — no convergence probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, IntegralType

#: rank scale: 1.0 of probability mass == S
SCALE = 1_000_000_000_000


def _rank_loop(
    edges: DataFrame, iterations: int, tp: int, r0: int
) -> DataFrame:
    """The loop :func:`pagerank` and :func:`personalized_pagerank`
    share. ``edges`` holds the edge instances (u, v, wu, wv), with
    ``wu`` / ``wv`` 1 where the teleport mass returns to that endpoint
    and 0 elsewhere; a node with weight 1 starts at rank ``r0`` and
    gets teleport share ``tp`` each round. Returns (node, rank).

    Each edge instance u→v is two arc rows, one with each endpoint as
    ``a``: (a, b, sa, d, ta, tb, la), ``sa`` true where a = u, ``d`` =
    outdeg(u), ``ta`` / ``tb`` the endpoints' teleport shares and
    ``la`` a's rank. A round is one exchange on ``b`` and a window on
    ``b``: b's rows with ``sa`` are its in-edges, so
    ``tb + Σ[sa] (85·la) div (100·d)`` is b's new rank. Then a and b
    swap, so each row again carries its ``a`` endpoint's rank,
    partitioned on ``a``."""

    def arc(a: str, b: str, sa: bool) -> Column:
        return F.struct(
            F.col(a).alias("a"), F.col(b).alias("b"), F.lit(sa).alias("sa"),
            "d",
            (F.col(f"w{a}") * tp).cast("long").alias("ta"),
            (F.col(f"w{b}") * tp).cast("long").alias("tb"),
            (F.col(f"w{a}") * r0).cast("long").alias("la"),
        )

    d = F.count(F.lit(1)).over(Window.partitionBy("u")).alias("d")
    state = (
        edges.select("u", "v", "wu", "wv", d)
        .select(F.explode(F.array(arc("v", "u", False), arc("u", "v", True))))
        .select("col.*")
    )
    c = F.when(F.col("sa"), F.expr("(85 * la) div (100 * d)"))
    inflow = F.coalesce(F.sum(c).over(Window.partitionBy("b")), F.lit(0))
    for _ in range(iterations):
        state = _swap(
            state.repartition("b").select(
                "a", "b", (~F.col("sa")).alias("sa"), "d", "ta", "tb",
                (F.col("tb") + inflow).alias("la"),
            ),
            ("a", "b"),
            ("ta", "tb"),
        )
    return state.groupBy("a").agg(F.min("la").alias("rank")).select(
        F.col("a").alias("node"), "rank"
    )


def pagerank(
    edges: DataFrame, iterations: int = 10, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Scaled-integer PageRank over a directed edge list (duplicate
    edges and self-loops count as edge instances).

    Dangling nodes (outdeg 0) keep only their teleport share — their
    damped mass leaks, the standard simplification when the graph is
    crawl-shaped (sinks are rare and the ranking order is what's
    consumed). Returns (node, rank) with Σrank ≤ S. The node count N
    is the one driver job."""
    n = edges.select(F.explode(F.array(src, dst))).distinct().count()
    one = F.lit(1)
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        one.alias("wu"), one.alias("wv"),
    )
    return _rank_loop(e, iterations, (15 * SCALE) // (100 * n), SCALE // n)


# ---------------------------------------------------------------------
# Gate query: formula-generated 500-node crawl graph, 3 out-links per
# node — the oracle unrolls the identical integer recurrence in SQL.
# ---------------------------------------------------------------------

_N = 500
#: dst = (src² · a + src · b + c) % N — QUADRATIC maps, deliberately
#: non-bijective: in-degrees vary from 0 to ~10, so the stationary
#: ranks spread (an affine map is a permutation → flat PageRank →
#: a vacuous gate hash).
_LINKS = [(17, 13, 5), (3, 101, 7), (7, 29, 257)]


def synthetic_link_graph(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    rows = spark.range(_N).select(
        F.explode(
            F.array(*[
                F.struct(
                    i.alias("src"),
                    ((i * i * a + i * b + c) % _N).alias("dst"),
                )
                for a, b, c in _LINKS
            ])
        ).alias("e")
    )
    return rows.select("e.src", "e.dst")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 10 integer-PageRank iterations over the synthetic
    500-node link graph — iteration 10's exact bigint ranks are under
    the hash (every engine must reproduce the whole trajectory)."""
    pr = pagerank(synthetic_link_graph(spark), iterations=10)
    return pr.orderBy("node").coalesce(1)


def sql_pagerank(iterations: int = 10) -> str:
    links = " UNION ALL ".join(
        f"SELECT i AS src, (i * i * {a} + i * {b} + {c}) % {_N} AS dst "
        f"FROM range({_N}) t(i)"
        for a, b, c in _LINKS
    )
    s = SCALE
    rounds = []
    prev = "r0"
    for k in range(1, iterations + 1):
        rounds.append(f"""r{k} AS (
  SELECT n.node,
         CAST({15 * s} // (100 * {_N}) + COALESCE(SUM(
           (85 * p.rank) // (100 * e.outdeg)
         ), 0) AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)""")
        prev = f"r{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH edges AS ({links}),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
e AS (
  SELECT edges.src, edges.dst, deg.outdeg
  FROM edges JOIN deg ON edges.src = deg.src
),
r0 AS (
  SELECT node, CAST({s} // {_N} AS BIGINT) AS rank FROM nodes
),
{rounds_sql}
SELECT node, rank FROM {prev}
ORDER BY node
"""


# ---------------------------------------------------------------------
# Triangle counting (degree-ordered orientation) — the clustering /
# community-structure primitive over a crawl link graph.
# ---------------------------------------------------------------------


def triangle_count(edges: DataFrame, top_k: int = 20) -> DataFrame:
    """Exact triangle counting via degree-ordered edge orientation.

    Canonicalizes to undirected simple edges, orients every edge from
    its lower-(degree, id) endpoint to the higher one, then counts
    directed wedges closed by a third oriented edge. Orientation is
    the scale lever: each oriented out-adjacency is bounded by
    O(sqrt(m)) (the arboricity argument behind the classic MapReduce
    formulation), so the wedge join emits O(m^1.5) candidate rows
    worst-case instead of Sum(deg^2) — on a power-law crawl graph the
    difference between feasible and not. All three joins are
    equi-joins shuffled on their keys; nothing is quadratic in nodes.

    Returns the ``top_k`` nodes by triangle participation
    (ties broken on node id) with the global edge / wedge / triangle
    counts and the transitivity ratio ``3·T·10⁶ div wedges`` repeated
    per row — every value an exact integer, so the whole result sits
    under a cross-engine hash.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # total-order orientation key: degree first, node id tie-break
    key = (F.col("d") * F.lit(1_000_000) + F.col("node")).alias("k")
    dk = deg.select("node", key)
    ork = (
        und.join(dk.withColumnsRenamed({"node": "u", "k": "ku"}), on="u")
        .join(dk.withColumnsRenamed({"node": "v", "k": "kv"}), on="v")
    )
    o = ork.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u"))
        .otherwise(F.col("v"))
        .alias("s"),
        F.when(F.col("ku") < F.col("kv"), F.col("v"))
        .otherwise(F.col("u"))
        .alias("t"),
    )
    e1 = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
    e3 = o.select(F.col("s").alias("x"), F.col("t").alias("z"))
    tri = e1.join(e2, on="y").join(e3, on=["x", "z"])
    # global stats as one-row relations broadcast-crossed onto the
    # top-k — zero driver actions, no caching: the tri subtree
    # appears twice in the final plan and ReuseExchange dedups its
    # shuffles, so the wedge join still runs once per query
    # (deg-side stats: Σd = 2m recovers the edge count, so und is
    # only scanned once through the deg aggregation)
    gdeg = deg.agg(
        F.expr("sum(d) div 2").cast("long").alias("n_edges"),
        F.expr("sum((d * (d - 1)) div 2)").cast("long").alias(
            "_wedges"
        ),
    )
    gtri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    per_node = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
        .orderBy(F.desc("tri_count"), "node")
        .limit(top_k)
    )
    return (
        per_node.crossJoin(F.broadcast(gtri))
        .crossJoin(F.broadcast(gdeg))
        .select(
            "node",
            "tri_count",
            "n_edges",
            "n_triangles",
            F.when(
                F.col("_wedges") > 0,
                F.expr(
                    "(3 * n_triangles * 1000000) div _wedges"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("transitivity_ppm"),
        )
    )


#: triangle gate graph: denser than the PageRank one (six quadratic
#: maps over 400 nodes → 2348 undirected edges, 564 triangles) so the
#: count exercises real wedge-closure volume
_TRI_N = 400
_TRI_LINKS = [
    (17, 13, 5), (3, 101, 7), (7, 29, 257),
    (11, 53, 19), (23, 71, 3), (5, 91, 127),
]


def synthetic_tri_graph(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    rows = spark.range(_TRI_N).select(
        F.explode(
            F.array(*[
                F.struct(
                    i.alias("src"),
                    ((i * i * a + i * b + c) % _TRI_N).alias("dst"),
                )
                for a, b, c in _TRI_LINKS
            ])
        ).alias("e")
    )
    return rows.select("e.src", "e.dst")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: exact degree-ordered triangle count over the
    400-node synthetic link graph — top-20 nodes by triangle
    participation plus global triangle / wedge statistics, all exact
    integers under the cross-engine hash."""
    return triangle_count(synthetic_tri_graph(spark), top_k=20).orderBy(
        F.desc("tri_count"), "node"
    )


def _tri_links_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT i AS src, (i * i * {a} + i * {b} + {c}) % {_TRI_N}"
        f" AS dst FROM range({_TRI_N}) t(i)"
        for a, b, c in _TRI_LINKS
    )


SQL_TRIANGLE_COUNT = f"""
WITH raw AS ({_tri_links_sql()}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
ork AS (
  SELECT e.u, e.v,
         du.d * 1000000 + e.u AS ku, dv.d * 1000000 + e.v AS kv
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
o AS (
  SELECT CASE WHEN ku < kv THEN u ELSE v END AS s,
         CASE WHEN ku < kv THEN v ELSE u END AS t
  FROM ork
),
tri AS (
  SELECT e1.s AS x, e1.t AS y, e2.t AS z
  FROM o e1
  JOIN o e2 ON e2.s = e1.t
  JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t
),
globals AS (
  SELECT
    (SELECT COUNT(*) FROM und) AS n_edges,
    (SELECT COUNT(*) FROM tri) AS n_triangles,
    (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS wedges
),
per_node AS (
  SELECT node, COUNT(*) AS tri_count
  FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  )
  GROUP BY node
  ORDER BY tri_count DESC, node
  LIMIT 20
)
SELECT p.node, p.tri_count, g.n_edges, g.n_triangles,
       CASE WHEN g.wedges > 0
            THEN 3 * g.n_triangles * 1000000 // g.wedges
            ELSE 0 END AS transitivity_ppm
FROM per_node p CROSS JOIN globals g
ORDER BY p.tri_count DESC, p.node
"""


# ---------------------------------------------------------------------
# Loops over the symmetrized edge list (label propagation, connected
# components, k-core): node state rides on the edge rows, so a round
# is windows and exchanges on the node key — no join
# ---------------------------------------------------------------------


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Symmetrized simple edge list (a, b): both directions of every
    undirected edge, self-loops and duplicates dropped, hash-partitioned
    on ``a`` (the dedup aggregate reuses the ``a`` exchange)."""
    e = edges.filter(F.col("src") != F.col("dst"))
    return (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .repartition("a")
        .distinct()
    )


def _swap(df: DataFrame, *pairs: tuple[str, str]) -> DataFrame:
    """Rename each (x, y) pair to (y, x); a hash partitioning on ``b``
    carries over to the renamed ``a``."""
    names = dict(pairs) | {y: x for x, y in pairs}
    return df.select([F.col(c).alias(names.get(c, c)) for c in df.columns])


def _min_label_round(state: DataFrame) -> DataFrame:
    """One synchronous min-label round over symmetrized edge rows
    (a, b, la, lb) partitioned on ``a``: both endpoints take
    ``least(own, min(neighbour))`` of the previous labels, in a window
    on ``a`` and, after one exchange on ``b``, a window on ``b`` (the
    list is symmetric, so each window sees a node's whole adjacency),
    then ``a``/``b`` swap so the result is partitioned on ``a`` again."""
    by_a, by_b = Window.partitionBy("a"), Window.partitionBy("b")
    return _swap(
        state.withColumn("na", F.least("la", F.min("lb").over(by_a)))
        .repartition("b")
        .withColumn("lb", F.least("lb", F.min("la").over(by_b)))
        .select("a", "b", F.col("na").alias("la"), "lb"),
        ("a", "b"),
        ("la", "lb"),
    )


def _own_labels(state: DataFrame) -> DataFrame:
    """Edge rows (a, b) labeled with their own endpoint ids."""
    return state.select(
        "a", "b", F.col("a").alias("la"), F.col("b").alias("lb")
    )


def _node_labels(state: DataFrame, name: str) -> DataFrame:
    """(node, ``name``): each node's label from labeled edge rows."""
    return state.groupBy("a").agg(F.min("la").alias(name)).select(
        F.col("a").alias("node"), name
    )


def min_label_propagation(
    edges: DataFrame, rounds: int = 4
) -> DataFrame:
    """Fixed-round synchronous min-label propagation over an
    undirected graph: every node starts labeled with its own id and
    each round takes the min of its label and its neighbors' labels.

    Fixed ``rounds`` (not run-to-convergence) keeps the computation
    exactly replayable by an unrolled SQL oracle; the converged
    variant is :func:`connected_components` below, which probes its
    own loop with this round.

    Scale posture: labels ride on the symmetrized edge rows as
    (a, b, la, lb), partitioned on ``a``; a round is
    :func:`_min_label_round`. One shuffle per round, a plan that
    grows linearly in ``rounds``, no join and no driver job. Returns
    (node, community).
    """
    state = _own_labels(_sym_edges(edges))
    for _ in range(rounds):
        state = _min_label_round(state)
    return _node_labels(state, "community")


#: round bound of :func:`connected_components`' star loop (shuffled-id
#: paths of 100 / 1000 / 4000 nodes converge in 6 / 8 / 10 rounds)
CC_MAX_ROUNDS = 50


def _star_edges(df: DataFrame, *pairs: tuple[str, str]) -> DataFrame:
    """Symmetrized simple edge rows (a, b) from the (x, y) column pairs
    of every row of ``df``: both orientations of each pair come out of
    ONE explode, so ``df`` is evaluated once; self-loops and duplicates
    dropped, hash-partitioned on ``a`` (``distinct`` reuses the ``a``
    exchange)."""
    ends = [
        F.struct(F.col(x).alias("a"), F.col(y).alias("b"))
        for p in pairs
        for x, y in (p, p[::-1])
    ]
    return (
        df.select(F.explode(F.array(*ends)).alias("e"))
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .repartition("a")
        .distinct()
    )


def _star_round(state: DataFrame) -> DataFrame:
    """One large-star then one small-star step over symmetrized edge
    rows (a, b) partitioned on ``a``; see :func:`connected_components`."""
    by_a = Window.partitionBy("a")
    large = state.withColumn(
        "m", F.least("a", F.min("b").over(by_a))
    ).filter(F.col("b") > F.col("a"))
    state = _star_edges(large, ("b", "m"))
    small = state.filter(F.col("b") < F.col("a")).withColumn(
        "m", F.min("b").over(by_a)
    )
    return _star_edges(small, ("b", "m"), ("a", "m"))


def _union_find_labels(edges: list) -> dict:
    """Driver-side union-find with path compression; component label =
    minimum node id (identical to min-label propagation's fixpoint)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller: roots stay the
            # component minimum, so find() IS the cluster label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in {x for e in edges for x in e}}


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair list — the dedup
    *clustering* step that turns near-duplicate candidate pairs into
    groups (keep one doc per cluster at 100 TB).

    Large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014) on symmetrized edge rows (a, b)
    partitioned on ``a``. A round is two steps, each a window on ``a``
    and one exchange, with no join:

    - large-star: ``m = least(a, min(b))``; each row with ``b > a``
      becomes (b, m) — every larger neighbour hooks onto a's
      neighbourhood minimum;
    - small-star: over the rows with ``b < a``, ``m = min(b)``; each
      becomes (b, m) and (a, m) — a and its smaller neighbours hook
      onto the smallest of them.

    Both keep every component connected and shrink it towards a star
    around its minimum in O(log n) rounds in practice (a min-label
    fixpoint alone needs one round per hop: L rounds on a path of L
    nodes). Every second round one :func:`_min_label_round` from the
    nodes' own ids probes for the fixpoint: if both ends of every edge
    get the same ``least(x, min neighbour)``, every node is adjacent
    to its component's minimum, and that label is the cluster id. The
    probe's lazy ``localCheckpoint`` cuts the lineage, and its
    ``isEmpty`` action materializes the cut. More than
    ``CC_MAX_ROUNDS`` rounds raise ``RuntimeError``.

    ``driver_threshold``: candidate graphs are usually *small* even
    when the corpus is not (banding bounds pair volume). When the
    edge list fits under the threshold (100k edges ≈ 2 MB — a bounded,
    corpus-size-independent driver materialization, same class as the
    IVF fit sample), a driver union-find computes the identical
    min-label fixpoint in one pass. Larger graphs fall through to the
    distributed loop. Set ``driver_threshold=0`` to force the
    distributed path.

    Returns (node, cluster_id) where cluster_id is the component's
    minimum node id, typed as the wider of the two id columns (two
    different id types must both be integers or decimals). A pair
    (x, x) carries no edge: like a node in no pair, a node in only
    such pairs is absent from the output."""
    t1, t2 = pairs.schema[id1].dataType, pairs.schema[id2].dataType
    if t1 != t2 and not all(
        isinstance(t, (IntegralType, DecimalType)) for t in (t1, t2)
    ):
        raise TypeError(
            f"connected_components: incompatible id dtypes "
            f"{t1.simpleString()!r} vs {t2.simpleString()!r} — cast both "
            f"endpoints to a common type first"
        )
    state = _star_edges(pairs, (id1, id2))
    if driver_threshold:
        rows = (
            pairs.filter(F.col(id1) != F.col(id2))
            .select(id1, id2)
            .limit(driver_threshold + 1)
            .collect()
        )
        if len(rows) <= driver_threshold:
            labels = _union_find_labels(rows)
            node_type = state.schema["a"].dataType.simpleString()
            return pairs.sparkSession.createDataFrame(
                sorted(labels.items()),
                f"node {node_type}, cluster_id {node_type}",
            )
    for i in range(1, CC_MAX_ROUNDS + 1):
        state = _star_round(state)
        if i % 2 == 0 or i == CC_MAX_ROUNDS:
            probe = _min_label_round(_own_labels(state)).localCheckpoint(
                eager=False
            )
            if probe.filter(F.col("la") != F.col("lb")).isEmpty():
                return _node_labels(probe, "cluster_id")
            state = probe.select("a", "b")
    raise RuntimeError(
        f"connected_components: no fixpoint within CC_MAX_ROUNDS="
        f"{CC_MAX_ROUNDS} star rounds"
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 2-round min-label communities over the synthetic
    400-node link graph — top-20 communities by size, exact integers.
    Two rounds leave 14 mid-merge communities (4 rounds fully collapse
    this dense graph to one label — no gate signal)."""
    labels = min_label_propagation(synthetic_tri_graph(spark), rounds=2)
    sizes = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("size")
    )
    # distributed top-k (orderBy+limit), then rank the 20 survivors
    top = sizes.orderBy(F.desc("size"), "community").limit(20)
    w = Window.orderBy(F.desc("size"), "community")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "community", "size")
        .orderBy("rank")
    )


def _sql_label_propagation(rounds: int = 4) -> str:
    ctes = [
        f"raw AS ({_tri_links_sql()})",
        """und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
)""",
        """sym AS (
  SELECT u AS a, v AS b FROM und
  UNION ALL SELECT v AS a, u AS b FROM und
)""",
        "nodes AS (SELECT DISTINCT a AS node FROM sym)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""l{r} AS (
  SELECT n.node,
         LEAST(n.lbl, COALESCE(MIN(p.lbl), n.lbl)) AS lbl
  FROM l{r - 1} n
  LEFT JOIN sym s ON s.a = n.node
  LEFT JOIN l{r - 1} p ON p.node = s.b
  GROUP BY n.node, n.lbl
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
sizes AS (
  SELECT lbl AS community, COUNT(*) AS size FROM l{rounds} GROUP BY lbl
)
SELECT ROW_NUMBER() OVER (ORDER BY size DESC, community) AS rank,
       community, size
FROM sizes
QUALIFY rank <= 20
ORDER BY rank
"""


SQL_LABEL_PROPAGATION = _sql_label_propagation(rounds=2)


# ---------------------------------------------------------------------
# Bounded-round k-core peeling
# ---------------------------------------------------------------------


def kcore_peel(edges: DataFrame, k: int = 10, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peeling: each round recomputes degrees over
    the surviving induced subgraph and drops nodes with degree < k.

    Fixed ``rounds`` (not peel-to-fixpoint) keeps the oracle an
    unrolled CTE chain — the same bounded-round discipline as
    min-label propagation; the fixpoint variant is a Pregel loop of
    the identical round body. Returns the surviving nodes with their
    within-subgraph degree after the last round.

    Scale posture: the surviving induced subgraph is carried as its
    symmetrized edge rows (a, b, ca, cb), partitioned on ``a``, with
    ``ca`` / ``cb`` the endpoint degrees of the previous round. A
    round keeps the rows with both degrees ≥ k, counts a's degree in
    a window on ``a`` and, after one exchange on ``b``, b's in a
    window on ``b`` (the list is symmetric, so each window sees a
    node's whole adjacency), then swaps ``a``/``b``. One shuffle per
    round, no join and no driver job. A survivor whose within-core
    neighbours were all peeled in the last round still appears, with
    core_degree 0 (the k=10 round-4 core is exactly four
    mutually-disconnected nodes).
    """
    by_a, by_b = Window.partitionBy("a"), Window.partitionBy("b")
    one = F.lit(1)
    state = _sym_edges(edges).select(
        "a", "b", F.lit(k).alias("ca"), F.lit(k).alias("cb")
    )
    for _ in range(rounds):
        state = _swap(
            state.filter((F.col("ca") >= k) & (F.col("cb") >= k))
            .withColumn("ca", F.count(one).over(by_a))
            .repartition("b")
            .withColumn("cb", F.count(one).over(by_b)),
            ("a", "b"),
            ("ca", "cb"),
        )
    return (
        state.filter(F.col("ca") >= k)
        .groupBy("a")
        .agg(F.count(F.when(F.col("cb") >= k, one)).alias("core_degree"))
        .select(F.col("a").alias("node"), "core_degree")
        .orderBy("node")
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 3-round 10-core peel of the synthetic 400-node
    link graph (400 -> 200 -> 128 -> 56 survivors) with final
    within-core degrees, all exact integers."""
    return kcore_peel(synthetic_tri_graph(spark), k=10, rounds=3)


def _sql_kcore(k: int = 10, rounds: int = 3) -> str:
    ctes = [
        f"raw AS ({_tri_links_sql()})",
        """und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
)""",
        """sym AS (
  SELECT u AS a, v AS b FROM und
  UNION ALL SELECT v AS a, u AS b FROM und
)""",
        "n0 AS (SELECT DISTINCT a AS node FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""n{r} AS (
  SELECT s.a AS node FROM sym s
  JOIN n{r - 1} x ON x.node = s.a
  JOIN n{r - 1} y ON y.node = s.b
  GROUP BY s.a HAVING COUNT(*) >= {k}
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT x.node, CAST(COALESCE(d.core_degree, 0) AS BIGINT) AS core_degree
FROM n{rounds} x
LEFT JOIN (
  SELECT s.a AS node, COUNT(*) AS core_degree
  FROM sym s
  JOIN n{rounds} p ON p.node = s.a
  JOIN n{rounds} q ON q.node = s.b
  GROUP BY s.a
) d ON d.node = x.node
ORDER BY x.node
"""


SQL_KCORE = _sql_kcore()


# ---------------------------------------------------------------------
# Two-hop neighborhood reach (round 8)
# ---------------------------------------------------------------------


def two_hop_reach(
    edges: DataFrame, top_k: int = 30, max_degree: int | None = None
) -> DataFrame:
    """Per-node count of distinct nodes within ≤ 2 undirected hops
    (friend-of-friend reach, excluding the node itself), with the
    one-hop degree and a ``capped`` flag beside it; top-k by reach.

    Scale posture: the 2-hop pair generation is ONE equi-join of the
    symmetrized edge list with itself keyed on the middle node — its
    raw fan-out is Σ deg(v)², which a single power-law hub turns
    quadratic (the classic skewed shuffle-key killer). ``max_degree``
    is the supernode guard (the SemDeDup ``max_cell_rows``
    discipline): a middle node's adjacency is deterministically
    truncated to its ``max_degree`` lowest-``xxhash64`` neighbors
    before the join, bounding per-key fan-out at max_degree² — a
    documented approximation that can only MISS 2-hop reach routed
    through a capped hub, never invent it. The per-key truncation is
    a row_number window PARTITIONED BY the middle node (per-key sort
    is deg·log deg, output ≤ max_degree — not the deg² pair blow-up).
    ``capped`` marks nodes whose own adjacency was truncated in the
    middle role (deg > max_degree); with ``max_degree=None`` (or a
    bound above the graph's max degree) results are exact and every
    flag is false. The distinct + count aggregate is keyed on the
    source node, and the top-k is orderBy().limit()
    (TakeOrderedAndProject), never a global rank window.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    sym = und.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionByName(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    if max_degree is None:
        mid = sym
    else:
        # supernode guard: keep each middle node's max_degree
        # lowest-hash neighbors (deterministic, order-free)
        w = Window.partitionBy("b").orderBy(F.xxhash64("a"), "a")
        mid = (
            sym.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_degree)
            .drop("_rn")
        )
    # mid rows are (a = neighbor, b = middle) with the MIDDLE node's
    # adjacency capped; e2 swaps the same relation to (b = middle,
    # c = neighbor) so both sides of a middle draw from the identical
    # capped neighbor set — per-key fan-out ≤ max_degree² by
    # construction (renaming a→b instead would key e2 on the UNCAPPED
    # per-source adjacency and reopen the hub blow-up)
    hop2 = (
        mid.alias("e1")
        .join(
            mid.select(
                F.col("b"), F.col("a").alias("c")
            ).alias("e2"),
            "b",
        )
        .select(F.col("a"), F.col("c").alias("r"))
        .filter(F.col("a") != F.col("r"))
    )
    reach = (
        sym.select("a", F.col("b").alias("r"))
        .unionByName(hop2)
        .distinct()
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("reach_2hop"))
    )
    capped = (
        F.lit(False)
        if max_degree is None
        else (F.col("deg") > F.lit(max_degree))
    )
    return (
        reach.join(deg, "a")
        .select(
            F.col("a").alias("node"),
            "deg",
            "reach_2hop",
            capped.alias("capped"),
        )
        .orderBy(F.desc("reach_2hop"), "node")
        .limit(top_k)
    )


def q_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: top-30 nodes of the 400-node synthetic link graph
    by distinct ≤ 2-hop reach, exact integers. max_degree=1000 sits
    above the graph's max degree, so the supernode guard is engaged
    (the capped plan shape runs) while every reach stays exact and
    every ``capped`` flag is provably false under the oracle hash."""
    return two_hop_reach(synthetic_tri_graph(spark), max_degree=1000)


SQL_TWO_HOP_REACH = f"""
WITH raw AS ({_tri_links_sql()}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM raw WHERE src <> dst
),
sym AS (
  SELECT u AS a, v AS b FROM und
  UNION ALL SELECT v AS a, u AS b FROM und
),
deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
hop2 AS (
  SELECT e1.a, e2.b AS r
  FROM sym e1 JOIN sym e2 ON e1.b = e2.a
  WHERE e1.a <> e2.b
),
reach AS (
  SELECT a, COUNT(*) AS reach_2hop FROM (
    SELECT a, b AS r FROM sym
    UNION
    SELECT a, r FROM hop2
  ) GROUP BY a
)
SELECT r.a AS node, d.deg, r.reach_2hop, d.deg > 1000 AS capped
FROM reach r JOIN deg d ON d.a = r.a
ORDER BY reach_2hop DESC, node
LIMIT 30
"""


# ---------------------------------------------------------------------
# Personalized PageRank (round 8)
# ---------------------------------------------------------------------


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Scaled-integer PERSONALIZED PageRank: the 15% teleport mass
    returns only to the ``seeds`` node set (one ``node`` column), so
    ranks measure proximity to the seeds — the recommendation /
    related-items primitive. Same damped integer recurrence, round
    body and dangling-node convention as :func:`pagerank`. Every
    distinct seed counts in the teleport denominator, also one absent
    from the graph (its share leaks). The seed flag is joined onto
    both endpoints of every edge once, by broadcast, before the loop;
    the seed count is the one driver job."""
    seeds = seeds.select("node").distinct()
    n_seeds = seeds.count()
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    for x in "uv":
        flag = seeds.select(F.col("node").alias(x), F.lit(1).alias(f"w{x}"))
        e = e.join(F.broadcast(flag), x, "left")
    e = e.na.fill(0, ["wu", "wv"])
    return _rank_loop(
        e, iterations, (15 * SCALE) // (100 * n_seeds), SCALE // n_seeds
    )


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 10 personalized-PageRank iterations over the
    synthetic link graph with teleport restricted to the 10 seed
    nodes (node % 50 = 0) — iteration 10's exact bigint
    proximity-to-seeds ranks under the hash."""
    seeds = spark.range(0, _N, 50).select(F.col("id").alias("node"))
    pr = personalized_pagerank(
        synthetic_link_graph(spark), seeds, iterations=10
    )
    return pr.orderBy("node").coalesce(1)


def sql_personalized_pagerank(iterations: int = 10) -> str:
    links = " UNION ALL ".join(
        f"SELECT i AS src, (i * i * {a} + i * {b} + {c}) % {_N} AS dst "
        f"FROM range({_N}) t(i)"
        for a, b, c in _LINKS
    )
    s = SCALE
    n_seeds = _N // 50
    tp = (15 * s) // (100 * n_seeds)
    rounds = []
    prev = "r0"
    for k in range(1, iterations + 1):
        rounds.append(f"""r{k} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node % 50 = 0 THEN {tp} ELSE 0 END
              + COALESCE(SUM(
                  (85 * p.rank) // (100 * e.outdeg)
                ), 0) AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)""")
        prev = f"r{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH edges AS ({links}),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
e AS (
  SELECT edges.src, edges.dst, deg.outdeg
  FROM edges JOIN deg ON edges.src = deg.src
),
r0 AS (
  SELECT node,
         CAST(CASE WHEN node % 50 = 0 THEN {s // n_seeds} ELSE 0 END
              AS BIGINT) AS rank
  FROM nodes
),
{rounds_sql}
SELECT node, rank FROM {prev}
ORDER BY node
"""


SQL_PERSONALIZED_PAGERANK = sql_personalized_pagerank()


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: IN-degree assortativity of the synthetic link
    graph — the Pearson correlation of (in-degree of source,
    in-degree of destination) over edges, the classic mixing-pattern
    summary (assortative crawl graphs behave differently under
    sampling and PageRank than disassortative ones). Out-degree is
    constant by construction (3 links per node), so the in-degree
    pairing is the one with signal. Degrees are exact integers; the
    correlation comes from DECIMAL-exact power sums with one shared
    closed form (the corr_matrix discipline).

    Plan: one in-degree aggregation, two keyed joins back to edges
    (left on the source side — in-degree-0 sources count as 0), one
    1-row power-sum aggregate — no window."""
    edges = synthetic_link_graph(spark)
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    e = (
        edges.join(
            ind.select(F.col("dst").alias("src"), F.col("d").alias("du")),
            "src",
            "left",
        )
        .join(
            ind.select("dst", F.col("d").alias("dv")),
            "dst",
        )
        .select(
            F.coalesce("du", F.lit(0)).alias("du"), F.col("dv")
        )
    )

    def ps(expr):
        return F.sum(expr.cast("decimal(28,6)")).cast("double")

    g = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        ps(F.col("du")).alias("su"),
        ps(F.col("dv")).alias("sv"),
        ps(F.col("du") * F.col("du")).alias("suu"),
        ps(F.col("dv") * F.col("dv")).alias("svv"),
        ps(F.col("du") * F.col("dv")).alias("suv"),
    )
    n, su, sv = F.col("n"), F.col("su"), F.col("sv")
    num = n * F.col("suv") - su * sv
    den = F.sqrt(n * F.col("suu") - su * su) * F.sqrt(
        n * F.col("svv") - sv * sv
    )
    return g.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(su / n, 6).alias("mean_src_indeg"),
        F.round(sv / n, 6).alias("mean_dst_indeg"),
        F.round(num / den, 6).alias("assortativity"),
    )


SQL_DEGREE_ASSORTATIVITY = f"""
WITH edges AS ({' UNION ALL '.join(
    f"SELECT i AS src, (i * i * {a} + i * {b} + {c}) % {_N} AS dst "
    f"FROM range({_N}) t(i)" for a, b, c in _LINKS)}),
ind AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst),
e AS (
  SELECT COALESCE(iu.d, 0) AS du, iv.d AS dv
  FROM edges
  LEFT JOIN ind iu ON iu.dst = edges.src
  JOIN ind iv ON iv.dst = edges.dst
),
g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(du AS DECIMAL(28,6))) AS DOUBLE) AS su,
         CAST(SUM(CAST(dv AS DECIMAL(28,6))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(du * du AS DECIMAL(28,6))) AS DOUBLE) AS suu,
         CAST(SUM(CAST(dv * dv AS DECIMAL(28,6))) AS DOUBLE) AS svv,
         CAST(SUM(CAST(du * dv AS DECIMAL(28,6))) AS DOUBLE) AS suv
  FROM e
)
SELECT CAST(n AS BIGINT) AS n_edges,
       ROUND(su / n, 6) AS mean_src_indeg,
       ROUND(sv / n, 6) AS mean_dst_indeg,
       ROUND((n * suv - su * sv)
             / (SQRT(n * suu - su * su) * SQRT(n * svv - sv * sv)), 6)
         AS assortativity
FROM g
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "pagerank": (q_pagerank, sql_pagerank),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "label_propagation": (q_label_propagation, SQL_LABEL_PROPAGATION),
    "kcore": (q_kcore, SQL_KCORE),
    "two_hop_reach": (q_two_hop_reach, SQL_TWO_HOP_REACH),
    "degree_assortativity": (q_degree_assortativity, SQL_DEGREE_ASSORTATIVITY),
    "personalized_pagerank": (
        q_personalized_pagerank,
        SQL_PERSONALIZED_PAGERANK,
    ),
}
