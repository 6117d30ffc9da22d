"""Dedup operator recall tests: the bucket structures must not lose
pairs inside their guaranteed radii."""

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from magmapandas_spark.operators import dedup, graph

SF_DIR = "/root/testdata/sf0.001"


def test_simhash_block_tables_complete_recall(spark):
    """4×16-bit block tables guarantee every Hamming≤3 pair is found
    (pigeonhole): compare against brute-force all-pairs Hamming over
    the real documents table."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = (
        dedup.simhash_near_dups(docs, max_hamming=3)
        .select("id1", "id2", "hamming")
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )

    fp = dedup.simhash(docs).toPandas()
    ids = fp["doc_id"].to_numpy()
    h = fp["simhash"].to_numpy().astype(np.uint64)
    xor = h[:, None] ^ h[None, :]
    # vectorized popcount on uint64 via byte lookup table
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
    pc = np.zeros(xor.shape, dtype=np.int64)
    v = xor.copy()
    for _ in range(8):
        pc += lut[(v & np.uint64(0xFF)).astype(np.int64)]
        v >>= np.uint64(8)
    ai, bi = np.nonzero((pc <= 3) & (ids[:, None] < ids[None, :]))
    exp = (
        pd.DataFrame(
            {"id1": ids[ai], "id2": ids[bi], "hamming": pc[ai, bi]}
        )
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), exp.astype("int64")
    )


def test_minhash_lsh_recall_on_planted_dupes(spark):
    """Planted near-duplicates (one-character edits) must surface as
    LSH candidates; unrelated docs must not all collide."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly in the summer evening"
    )
    rows = []
    for i in range(20):
        rows.append((2 * i, base + f" variant tail {i}"))
        rows.append((2 * i + 1, base + f" variant tail {i}!"))
    for i in range(40, 60):
        rows.append((i, f"completely different text number {i} " * 5))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = dedup.minhash_lsh_candidates(docs).toPandas()
    pairs = set(map(tuple, cand[["id1", "id2"]].to_numpy()))
    for i in range(20):
        assert (2 * i, 2 * i + 1) in pairs, f"missing planted pair {i}"
    # bucketing must prune across the two unrelated families: no
    # candidate should span group A (shared base) and group B
    assert not any(a < 40 <= b for a, b in pairs)


def test_connected_components_known_graph(spark):
    from magmapandas_spark.operators.graph import connected_components

    # components: {1,2,3,4} (chain), {10,11}, {20} absent (no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id1", "id2"]
    )
    expected = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    # driver union-find fast path AND the distributed iterative path
    # (forced via driver_threshold=0) must agree exactly
    for thresh in (100_000, 0):
        out = {
            (r["node"], r["cluster_id"])
            for r in connected_components(
                pairs, driver_threshold=thresh
            ).collect()
        }
        assert out == expected, f"threshold={thresh}"


def test_connected_components_rejects_mixed_id_types(spark):
    pairs = spark.createDataFrame([], "id1 int, id2 string")
    for thresh in (100_000, 0):
        with pytest.raises(TypeError, match="incompatible id dtypes"):
            graph.connected_components(pairs, driver_threshold=thresh)
    widened = graph.connected_components(
        spark.createDataFrame([(1, 2)], "id1 int, id2 bigint")
    )
    assert widened.schema.simpleString() == (
        "struct<node:bigint,cluster_id:bigint>"
    )


def _shuffled_path(spark, n: int):
    ids = list(range(n))
    random.Random(7).shuffle(ids)
    return spark.createDataFrame(
        list(zip(ids, ids[1:])), "id1 bigint, id2 bigint"
    )


def test_connected_components_path_converges_in_log_rounds(
    spark, monkeypatch
):
    """Large-star / small-star needs O(log L) rounds on a path of L
    nodes, where plain min-label propagation needs L: the 1000-node
    path must converge within 2 * ceil(log2 1000) = 20 rounds."""
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 20)
    out = graph.connected_components(
        _shuffled_path(spark, 1000), driver_threshold=0
    ).toPandas()
    assert sorted(out["node"]) == list(range(1000))
    assert set(out["cluster_id"]) == {0}


def test_connected_components_raises_without_fixpoint(spark, monkeypatch):
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="CC_MAX_ROUNDS=1"):
        graph.connected_components(
            _shuffled_path(spark, 1000), driver_threshold=0
        )


def test_fan_out_widens_narrow_inputs_only(spark):
    from magmapandas_spark.operators.dedup import fan_out

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = spark.range(1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    widened = fan_out(narrow)
    assert widened.rdd.getNumPartitions() == target
    # values unchanged
    assert widened.count() == 1000

    wide = spark.range(1000).repartition(target + 4)
    assert fan_out(wide) is wide  # no-op: already at/above target


def test_keep_best_per_cluster(spark):
    from magmapandas_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id long, cluster_id long",
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (9, 5)],
        "doc_id long, n_chars int",
    )
    out = (
        keep_best_per_cluster(clusters, docs)
        .orderBy("cluster_id")
        .toPandas()
        .set_index("cluster_id")
    )
    # quality tie 30/30 between docs 2 and 3 -> min doc_id wins
    assert out.loc[1, "kept_doc"] == 2
    assert out.loc[1, "n_docs"] == 3
    assert out.loc[7, "kept_doc"] == 7
    assert out.loc[7, "kept_quality"] == 5


def test_minhash_jaccard_estimate_bounds(spark):
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id1 long, id2 long"
    )
    out = (
        minhash_jaccard_estimate(docs, pairs)
        .orderBy("id1", "id2")
        .toPandas()
    )
    # identical docs -> identical signatures -> estimate exactly 1
    assert out.loc[0, "n_agree"] == 32
    assert out.loc[0, "est_jaccard"] == 1.0
    # disjoint shingle sets -> estimate near 0
    assert out.loc[1, "est_jaccard"] < 0.2


def test_exact_substring_pairs(spark):
    from magmapandas_spark.operators.dedup import exact_substring_pairs

    shared = "X" * 30 + "abcdefghij" * 2  # 50-char shared run
    docs = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " tail-a"),
            (2, "other start " + shared + " tail-b"),
            (3, "no overlap with anything else at all " + "Y" * 60),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_pairs(docs, k=50).toPandas()
    assert set(zip(out["id1"], out["id2"])) == {(1, 2)}
    assert out.loc[0, "n_shared"] >= 1


def test_containment_catches_doc_inside_doc(spark):
    """The asymmetric case Jaccard misses: a short doc fully quoted in
    a long one -> low Jaccard, containment == 1."""
    from magmapandas_spark.operators.dedup import pair_overlap_scores

    short = "alpha beta gamma delta epsilon"
    long = ("completely different opening material here " * 5) + short
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    out = pair_overlap_scores(docs, pairs).toPandas()
    assert out.loc[0, "containment"] == 1.0
    assert out.loc[0, "jaccard"] < 0.5


def test_keep_best_per_cluster_string_ids(spark):
    """r12 review: string doc ids take the window form (the negation
    trick would ANSI-error or silently flip ties) — same verdict as
    the documented lowest-id rule."""
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2)], "doc_id string, cluster_id int"
    )
    docs = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 7)], "doc_id string, n_chars int"
    )
    out = {
        r["cluster_id"]: (r["kept_doc"], r["kept_quality"], r["n_docs"])
        for r in keep_best_per_cluster(clusters, docs).collect()
    }
    # quality tie in cluster 1 → lowest id 'a'
    assert out[1] == ("a", 10, 2)
    assert out[2] == ("c", 7, 1)


def test_incremental_lsh_scheme_guard(spark, tmp_path):
    """r12 review: a persisted index probed under a different
    signature scheme silently matches nothing — the _meta companion
    now fails loudly on mismatched params and warns when absent
    (pre-versioning index)."""
    import warnings

    import pytest as _pytest
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.dedup import (
        incremental_lsh_candidates,
        write_lsh_index,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text body")
         for i in range(6)],
        "doc_id long, text string",
    )
    table = "lsh_scheme_guard_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_meta")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for d in (table, f"{table}_meta"):
        shutil.rmtree(f"{wh}/{d}", ignore_errors=True)
    try:
        write_lsh_index(docs, table, bands=8, n_hashes=32)
        # matching probe: fine, no warning
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            incremental_lsh_candidates(docs, table).count()
        # mismatched bands: loud error naming both schemes
        with _pytest.raises(ValueError, match="does not match index"):
            incremental_lsh_candidates(docs, table, bands=4, n_hashes=32)
        # legacy index (no meta): warns but still runs
        spark.sql(f"DROP TABLE IF EXISTS {table}_meta")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            incremental_lsh_candidates(docs, table).count()
        assert any("_meta companion" in str(x.message) for x in w)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_meta")
        for d in (table, f"{table}_meta"):
            shutil.rmtree(f"{wh}/{d}", ignore_errors=True)
