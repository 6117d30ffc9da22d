"""Typo-tolerant dictionary join via deletion-neighborhood blocking
(SymSpell-style; beyond-reference surface — the fuzzy-matching tier a
curation pipeline needs for entity normalization and spell-mapping
dirty tokens onto a reference vocabulary).

The scale problem: edit-distance joins are quadratic if written as
``probes × dictionary WHERE levenshtein ≤ 1``. The SymSpell identity
makes them an equi-join: two strings are within Levenshtein distance 1
**iff** their deletion neighborhoods ``{s} ∪ D1(s)`` intersect (D1 =
all single-character deletions) — deletions cover deletion edits
directly, substitutions via deleting the differing position from both
sides, insertions symmetrically. So:

- each side explodes into ``len+1`` variant rows (scan-local,
  whole-stage codegen — ``transform(sequence(...))``, no UDF),
- candidates come from ONE equi-join on the variant key (the
  dictionary side is broadcast: ``|vocab| · (len+1)`` rows),
- candidates are verified with the exact ``levenshtein`` built-in
  (JVM-side), bounding false positives like ``ab``/``ba`` that share
  a deletion but sit at distance 2.

Nothing is quadratic: the probe side streams through the scan, the
candidate count is bounded by bucket collisions on short variant
strings, and the verify touches candidates only. The gate query's
oracle is the BRUTE-FORCE cross join in DuckDB — hash equality against
it is an executable proof that blocking loses no distance-≤1 pair
(SymSpell's recall guarantee), not just that both engines agree.

Determinism: probes are derived from part attributes with the edit
position/type keyed on ``p_partkey`` (delete / substitute 'z' /
insert 'q'), so both engines synthesize the identical dirty tokens;
all outputs are integers and strings — no float fog anywhere.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magmapandas_spark.operators.graph import connected_components

#: minimum token length admitted to the dictionary / probe base
MIN_WORD_LEN = 4


def _variants(col_name: str):
    """``{s} ∪ D1(s)`` as a scan-local array column (self first, then
    each single-character deletion, deduped by array_union)."""
    return F.array_union(
        F.array(F.col(col_name)),
        F.expr(
            f"transform(sequence(1, length({col_name})), i -> "
            f"concat(substring({col_name}, 1, i-1), "
            f"substring({col_name}, i+1, 100000)))"
        ),
    )


def fuzzy_join_d1(
    probes: DataFrame,
    dictionary: DataFrame,
    probe_col: str = "probe",
    word_col: str = "word",
    broadcast_dict: bool = True,
) -> DataFrame:
    """All (probe, word) pairs with ``levenshtein(probe, word) <= 1``,
    computed by deletion-neighborhood blocking + exact verify — never
    a cross join.

    ``probes`` and ``dictionary`` should be distinct on their key
    column (dedupe upstream where multiplicities exist; the candidate
    generation cost is per DISTINCT string). With ``broadcast_dict``
    the dictionary's variant relation rides a broadcast — the
    dictionary-correction shape where a bounded vocabulary meets an
    unbounded probe stream."""
    pv = probes.select(
        F.col(probe_col), F.explode(_variants(probe_col)).alias("_var")
    )
    dv = dictionary.select(
        F.col(word_col), F.explode(_variants(word_col)).alias("_var")
    )
    if broadcast_dict:
        dv = F.broadcast(dv)
    cand = (
        pv.join(dv, "_var")
        .select(probe_col, word_col)
        .distinct()
    )
    return cand.filter(
        F.levenshtein(F.col(probe_col), F.col(word_col)) <= 1
    )


# ---------------------------------------------------------------------
# Gate query: deterministic dirty tokens from part attributes, mapped
# back onto the part-attribute vocabulary
# ---------------------------------------------------------------------


def _part_vocab(parts: DataFrame) -> DataFrame:
    """(tok, n) dictionary from p_name words + p_type, length ≥ 4."""
    words = (
        parts.select(
            F.explode(F.split(F.lower("p_name"), " ")).alias("tok")
        )
        .unionByName(parts.select(F.lower("p_type").alias("tok")))
        .filter(F.length("tok") >= MIN_WORD_LEN)
    )
    return words.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))


def _part_probes(parts: DataFrame) -> DataFrame:
    """One dirty token per part row: pick a word by ``k % 3`` (name
    word 1 / name word 2 / p_type), then apply the edit class keyed on
    ``k div 3`` at position ``(k div 9) % len`` — delete, substitute
    'z', or insert 'q'. Returns (probe, n_probe) grouped."""
    k = F.col("p_partkey")
    arr = F.concat(
        F.split(F.lower("p_name"), " "), F.array(F.lower("p_type"))
    )
    w = F.element_at(arr, (k % 3 + 1).cast("int"))
    chosen = parts.select(k.alias("k"), w.alias("w")).filter(
        F.length("w") >= MIN_WORD_LEN
    )
    pos = (F.expr("k div 9") % F.length("w") + 1).cast("int")
    mode = (F.expr("k div 3") % 3).cast("int")
    pre = F.expr("substring(w, 1, pos - 1)")
    post = F.expr("substring(w, pos + 1, 100000)")
    probe = (
        F.when(F.col("mode") == 0, F.concat(pre, post))
        .when(F.col("mode") == 1, F.concat(pre, F.lit("z"), post))
        .otherwise(
            F.concat(F.expr("substring(w, 1, pos)"), F.lit("q"), post)
        )
    )
    return (
        chosen.withColumn("pos", pos)
        .withColumn("mode", mode)
        .select(probe.alias("probe"))
        .groupBy("probe")
        .agg(F.count(F.lit(1)).alias("n_probe"))
    )


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: blocked edit-distance-≤1 join of the synthesized
    dirty tokens against the part vocabulary; the DuckDB oracle does
    the brute-force cross join, so the hash certifies SymSpell recall,
    not just engine agreement."""
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    vocab = _part_vocab(parts)
    probes = _part_probes(parts)
    matched = fuzzy_join_d1(
        probes.select("probe"), vocab.select("tok"),
        probe_col="probe", word_col="tok",
    )
    return (
        matched.join(probes, "probe")
        .join(vocab, "tok")
        .select(
            "probe",
            F.col("tok").alias("match"),
            "n_probe",
            F.col("n").alias("n_dict"),
            F.levenshtein("probe", "tok").cast("int").alias("dist"),
        )
        .orderBy(F.desc("n_probe"), "probe", "match")
    )


SQL_FUZZY_JOIN = f"""
WITH words AS (
  SELECT tok FROM (
    SELECT unnest(str_split(lower(p_name), ' ')) AS tok FROM part) t1
  UNION ALL
  SELECT lower(p_type) AS tok FROM part
),
vocab AS (
  SELECT tok, COUNT(*) AS n FROM words
  WHERE len(tok) >= {MIN_WORD_LEN} GROUP BY tok
),
chosen AS (
  SELECT p_partkey AS k,
         (str_split(lower(p_name), ' ') || [lower(p_type)])
           [(p_partkey % 3) + 1] AS w
  FROM part
),
probes0 AS (
  SELECT k, w,
         CAST(((k // 9) % len(w)) + 1 AS INT) AS pos,
         CAST((k // 3) % 3 AS INT) AS mode
  FROM chosen WHERE len(w) >= {MIN_WORD_LEN}
),
probes AS (
  SELECT CASE mode
           WHEN 0 THEN concat(substr(w, 1, pos - 1),
                              substr(w, pos + 1, 100000))
           WHEN 1 THEN concat(substr(w, 1, pos - 1), 'z',
                              substr(w, pos + 1, 100000))
           ELSE concat(substr(w, 1, pos), 'q',
                       substr(w, pos + 1, 100000))
         END AS probe
  FROM probes0
),
pg AS (SELECT probe, COUNT(*) AS n_probe FROM probes GROUP BY probe)
SELECT pg.probe,
       v.tok AS match,
       pg.n_probe,
       v.n AS n_dict,
       CAST(levenshtein(pg.probe, v.tok) AS INT) AS dist
FROM pg JOIN vocab v ON levenshtein(pg.probe, v.tok) <= 1
ORDER BY n_probe DESC, probe, match
"""


# ---------------------------------------------------------------------
# Sorted-neighborhood entity resolution (SNM blocking)
# ---------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 3,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood-method candidate pairs with exact
    Levenshtein verify — the other classic blocking scheme beside
    SymSpell deletion neighborhoods: sort records by a blocking key,
    slide a fixed window, verify only in-window pairs.

    Spark-first shape: the sort key is PREFIX-BLOCKED (first two
    characters), so the window partitions by block and the in-window
    neighbors at offsets 1..``window`` are ``lead(·, k)`` columns of
    ONE window pass — no global sort, no single-partition window, no
    self-join (the former per-offset equi-join cascade re-evaluated
    the distinct+rank pipeline once per offset and shuffled it
    ``window``+1 times; ``lead`` reads the same sorted run). A row
    pairs with rank r+k exactly when ``lead(·, k)`` is non-null, so
    the pair set is identical by construction. Pairs that straddle a
    prefix block are the documented recall loss (multi-pass SNM with
    a second key closes it), mirroring LSH banding's false-negative
    contract.

    Output: verified pairs (distance ≤ ``max_dist``) with exact
    integer distances.
    """
    base = df.select(
        F.col(id_col).alias("rid"), F.col(key_col).alias("key")
    ).distinct()
    blocked = base.select(
        "rid", "key", F.substring("key", 1, 2).alias("blk")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("blk").orderBy("key", "rid")
    leads = blocked.select(
        F.col("rid").alias("id_a"),
        F.col("key").alias("key_a"),
        F.array(
            *[
                F.struct(
                    F.lead("rid", k).over(w).alias("id_b"),
                    F.lead("key", k).over(w).alias("key_b"),
                )
                for k in range(1, window + 1)
            ]
        ).alias("_nbrs"),
    )
    pairs = (
        leads.select(
            "id_a", "key_a", F.explode("_nbrs").alias("_nb")
        )
        .filter(F.col("_nb.id_b").isNotNull())
        .select("id_a", "key_a", "_nb.id_b", "_nb.key_b")
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            "key_a",
            "key_b",
            F.levenshtein("key_a", "key_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .filter(F.col("dist") > 0)
        .orderBy("id_a", "id_b")
    )


def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: sorted-neighborhood near-duplicate part names
    (window 3, Levenshtein <= 3), exact integer distances."""
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    return sorted_neighborhood_pairs(parts, "p_name", "p_partkey")


SQL_SNM_PAIRS = """
WITH base AS (
  SELECT DISTINCT p_partkey AS rid, p_name AS key FROM part
),
ranked AS (
  SELECT rid, key, substr(key, 1, 2) AS blk,
         ROW_NUMBER() OVER (PARTITION BY substr(key, 1, 2)
                            ORDER BY key, rid) AS rn
  FROM base
)
SELECT a.rid AS id_a, b.rid AS id_b, a.key AS key_a, b.key AS key_b,
       CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
FROM ranked a
JOIN ranked b ON b.blk = a.blk AND b.rn > a.rn AND b.rn <= a.rn + 3
WHERE levenshtein(a.key, b.key) <= 3 AND levenshtein(a.key, b.key) > 0
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------
# End-to-end entity resolution: SNM pairs -> clusters -> golden records
# ---------------------------------------------------------------------


def q_er_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the full MDM entity-resolution pipeline composed
    from existing verified operators — sorted-neighborhood candidate
    pairs (blocked, Levenshtein-verified), connected components over
    the match graph, and a survivorship rule that elects one golden
    record per cluster (max p_size, then min key — the deterministic
    'most complete record wins' policy). Output: one row per
    multi-member cluster with its golden record and member count.

    The oracle replays the identical pair pipeline and labels
    components by recursive-CTE transitive closure (exact: min-label
    CC is iteration-order independent), then applies the same
    survivorship window.
    """
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    pairs = sorted_neighborhood_pairs(
        parts, "p_name", "p_partkey"
    ).select(F.col("id_a").alias("id1"), F.col("id_b").alias("id2"))
    cc = connected_components(pairs)
    members = cc.join(
        parts.select(
            F.col("p_partkey").alias("node"), "p_name", "p_size"
        ),
        "node",
    )
    # n_keep=1 argmax per cluster + member count — ONE
    # map-side-combined aggregate instead of the former row_number
    # window + count window (r12, the ivf_topk rewrite applied here):
    # `max(struct(p_size, -node, payload...))` is the exact twin of
    # `ORDER BY p_size DESC, node` (negated numeric key flips the
    # tie-break inside a max; node = p_partkey, bigint), and the
    # payload fields after the two ordering keys are only compared on
    # an exact (p_size, node) tie — i.e. the same row. Property-tested
    # in tests/test_argmin_agg_equivalence.py.
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("p_size"),
                    (-F.col("node")).alias("nn"),
                    F.col("node"),
                    F.col("p_name"),
                )
            ).alias("m"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.col("m.node").alias("golden_key"),
            F.col("m.p_name").alias("golden_name"),
            F.col("m.p_size").alias("golden_size"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------
# Multi-pass SNM: close the single-pass cross-block recall loss
# ---------------------------------------------------------------------

#: truth sample cap — recall is measured on a CONSTANT-size slice of
#: parts so the brute-force ground truth stays |sample|² at any corpus
#: size (the lsh_recall_eval / ann_recall sample discipline)
_ER_TRUTH_CAP = 400


def multipass_snm_pairs(
    names: DataFrame, checkpoint: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(pass-1 pairs, multi-pass pairs) over DISTINCT name strings,
    both normalized to ``id1 < id2`` (lexicographic) and distinct.

    ``checkpoint=True`` eagerly materializes the shared name
    dictionary and the pass-1 pair set so the multi-pass union reuses
    them: without it, ``multi``'s plan re-executes the entire pass-1
    SNM window + levenshtein verify AND re-derives the distinct name
    dictionary a third time (one subtree per pass) — pair sets are
    identical either way, only the plan shape changes.

    SNM runs on the DEDUPLICATED key dictionary, never the raw rows:
    duplicate-heavy data turns each repeated key into a window-
    swamping run (every in-window neighbor is a distance-0 copy), so
    production SNM compares distinct keys and maps clusters back to
    rows afterwards. Pass 1 blocks/sorts on the name; pass 2 on
    ``reverse(name)`` — an independent order, so pairs that straddle
    a pass-1 prefix block (the documented single-pass recall loss)
    land inside a pass-2 window whenever their names share a suffix
    ('old ring'/'hot ring'). Levenshtein is reversal-invariant, so
    pass-2 verification distances are the same exact integers.
    Union + distinct before clustering — standard multi-pass SNM
    (Hernández & Stolfo 1995).
    """
    nm = names.select(F.col("nm")).distinct()
    if checkpoint:
        nm = nm.localCheckpoint(eager=True)
    p1 = sorted_neighborhood_pairs(nm, "nm", "nm")
    rev = nm.select("nm", F.reverse(F.col("nm")).alias("rname"))
    p2 = sorted_neighborhood_pairs(rev, "rname", "nm")

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least("id_a", "id_b").alias("id1"),
            F.greatest("id_a", "id_b").alias("id2"),
        ).distinct()

    pairs1 = norm(p1)
    if checkpoint:
        pairs1 = pairs1.localCheckpoint(eager=True)
    multi = pairs1.unionByName(norm(p2)).distinct()
    return pairs1, multi


def q_er_golden_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: multi-pass SNM recall measurement — single-pass and
    two-pass pair recall against brute-force Levenshtein ≤ 3 ground
    truth on the name dictionary of a constant-size part sample, all
    counts and ppm recalls under the gate hash (the lsh_recall_eval
    playbook). The multi-pass recall dominates the single-pass one by
    construction (its pair set is a superset); at sf0.01 it measures
    6× the pass-1 recall (500000 vs 83333 ppm)."""
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    names = parts.select(F.col("p_name").alias("nm"))
    # checkpoint=True: the multi-pass union builds on the MATERIALIZED
    # pass-1 pair set and name dictionary instead of re-executing the
    # pass-1 window + levenshtein verify inside its own plan
    pairs1, multi = multipass_snm_pairs(names, checkpoint=True)

    # multi (pass-2 window + union) and the brute-force truth are
    # independent pipelines; overlap them so one's stragglers
    # back-fill the other's idle cores (optimization guide §2.6); each
    # thread inherits the caller's job group, local properties and tags
    def _multi() -> DataFrame:
        return multi.localCheckpoint(eager=True)

    def _truth() -> DataFrame:
        smp = (
            parts.filter(F.col("p_partkey") < _ER_TRUTH_CAP)
            .select(F.col("p_name").alias("nm"))
            .distinct()
        )
        a = smp.select(F.col("nm").alias("id1"))
        b = smp.select(F.col("nm").alias("id2"))
        return (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("id1") < F.col("id2"))
            .filter(F.levenshtein("id1", "id2").between(1, 3))
            .localCheckpoint(eager=True)
        )

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        multi_f = pool.submit(inherit(_multi))
        truth_f = pool.submit(inherit(_truth))
        multi = multi_f.result()
        truth = truth_f.result()
    n_truth = truth.count()
    n_hit1 = truth.join(pairs1, ["id1", "id2"], "left_semi").count()
    n_hit_multi = truth.join(multi, ["id1", "id2"], "left_semi").count()
    n_multi_pairs = multi.count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_multi_pairs,
                n_hit1,
                n_hit_multi,
                (n_hit1 * 1_000_000 // n_truth) if n_truth else 0,
                (n_hit_multi * 1_000_000 // n_truth) if n_truth else 0,
            )
        ],
        "n_truth long, n_multi_pairs long, n_hits_pass1 long,"
        " n_hits_multi long, recall1_ppm long, recall_multi_ppm long",
    )


def _sql_er_multipass() -> str:
    def snm(key_expr: str, tag: str) -> str:
        return f"""ranked{tag} AS (
  SELECT nm, {key_expr} AS key, substr({key_expr}, 1, 2) AS blk,
         ROW_NUMBER() OVER (PARTITION BY substr({key_expr}, 1, 2)
                            ORDER BY {key_expr}, nm) AS rn
  FROM names
),
pairs{tag} AS (
  SELECT DISTINCT LEAST(a.nm, b.nm) AS id1,
                  GREATEST(a.nm, b.nm) AS id2
  FROM ranked{tag} a
  JOIN ranked{tag} b ON b.blk = a.blk AND b.rn > a.rn
                    AND b.rn <= a.rn + 3
  WHERE levenshtein(a.key, b.key) <= 3 AND levenshtein(a.key, b.key) > 0
)"""

    return f"""
WITH names AS (
  SELECT DISTINCT p_name AS nm FROM part
),
{snm('nm', '1')},
{snm('reverse(nm)', '2')},
multi AS (SELECT id1, id2 FROM pairs1 UNION SELECT id1, id2 FROM pairs2),
smp AS (
  SELECT DISTINCT p_name AS nm FROM part WHERE p_partkey < {_ER_TRUTH_CAP}
),
truth AS (
  SELECT a.nm AS id1, b.nm AS id2
  FROM smp a JOIN smp b ON a.nm < b.nm
  WHERE levenshtein(a.nm, b.nm) BETWEEN 1 AND 3
),
h1 AS (
  SELECT t.id1, t.id2 FROM truth t
  WHERE EXISTS (SELECT 1 FROM pairs1 p
                WHERE p.id1 = t.id1 AND p.id2 = t.id2)
),
hm AS (
  SELECT t.id1, t.id2 FROM truth t
  WHERE EXISTS (SELECT 1 FROM multi m
                WHERE m.id1 = t.id1 AND m.id2 = t.id2)
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM multi) AS n_multi_pairs,
       (SELECT COUNT(*) FROM h1) AS n_hits_pass1,
       (SELECT COUNT(*) FROM hm) AS n_hits_multi,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN (SELECT COUNT(*) FROM h1) * 1000000
                   // (SELECT COUNT(*) FROM truth) ELSE 0 END
         AS recall1_ppm,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN (SELECT COUNT(*) FROM hm) * 1000000
                   // (SELECT COUNT(*) FROM truth) ELSE 0 END
         AS recall_multi_ppm
"""


SQL_ER_GOLDEN_MULTIPASS = _sql_er_multipass()


SQL_ER_GOLDEN = """
WITH RECURSIVE base AS (
  SELECT DISTINCT p_partkey AS rid, p_name AS key FROM part
),
ranked AS (
  SELECT rid, key, substr(key, 1, 2) AS blk,
         ROW_NUMBER() OVER (PARTITION BY substr(key, 1, 2)
                            ORDER BY key, rid) AS rn
  FROM base
),
pairs AS (
  SELECT a.rid AS id1, b.rid AS id2
  FROM ranked a
  JOIN ranked b ON b.blk = a.blk AND b.rn > a.rn AND b.rn <= a.rn + 3
  WHERE levenshtein(a.key, b.key) <= 3 AND levenshtein(a.key, b.key) > 0
),
sym AS (
  SELECT id1 AS node, id2 AS nb FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT node, node FROM sym
  UNION
  SELECT s.node, r.lbl FROM sym s JOIN reach r ON s.nb = r.node
),
cc AS (
  SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
),
members AS (
  SELECT c.cluster_id, c.node, p.p_name, p.p_size
  FROM cc c JOIN part p ON p.p_partkey = c.node
),
survivor AS (
  SELECT cluster_id, node, p_name, p_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY p_size DESC, node) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM members
)
SELECT cluster_id, n_members, node AS golden_key,
       p_name AS golden_name, p_size AS golden_size
FROM survivor WHERE rn = 1
ORDER BY cluster_id
"""


# (query, oracle) pairs collected by relational.suite
QUERIES = {
    "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
    "snm_pairs": (q_snm_pairs, SQL_SNM_PAIRS),
    "er_golden": (q_er_golden, SQL_ER_GOLDEN),
    "er_golden_multipass": (q_er_golden_multipass, SQL_ER_GOLDEN_MULTIPASS),
}
