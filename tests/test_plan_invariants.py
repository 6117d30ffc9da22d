"""Executable plan invariants — the PLANS.md claims as assertions.

These parse `explain()` output of real suite queries, so a regression
that silently changes a plan shape (a lost broadcast, a filter that
stops reaching the scan, an accidental cartesian product) fails CI
instead of surviving until someone re-reads the plan by hand.
"""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def window_partition_specs(plan: str) -> list[str]:
    """Partition spec of every Window node, '' when unpartitioned.

    WindowExec prints ``Window [exprs], [partition], [order]`` but
    drops empty groups: an UNPARTITIONED ordered window prints only
    ``Window [exprs], [order]`` — a naive two-group regex then reads
    the ORDER spec as the partition and false-passes. Disambiguate
    two-group lines by the ASC/DESC markers order specs always
    carry."""
    out = []
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        groups = re.findall(r"\[([^\]]*)\]", line[idx:])
        if len(groups) >= 3:
            out.append(groups[1])
        elif len(groups) == 2:
            g = groups[1]
            out.append("" if (" ASC" in g or " DESC" in g) else g)
        else:
            out.append("")
    return out


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# -- filter pushdown reaches the parquet scan -------------------------

def test_doc_slice_filter_pushed_to_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    plan = plan_of(docs.select("doc_id"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,500)]" in plan


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(docs.select("doc_id", "lang"))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "text" not in m.group(1), m.group(1)
    assert "doc_id" in m.group(1) and "lang" in m.group(1)


# -- no cartesian products outside the deliberate allowlist ----------

@pytest.mark.parametrize(
    "qname",
    [
        "bloom_decontaminate",
        "revenue_by_nation",
        "dedup_keep_best",
        "merge_upsert",
        "host_quota",
        "ngram_contamination",
        "fuzzy_join",
    ],
)
def test_no_cartesian_product(spark, qname):
    from magmapandas_spark.relational import suite

    df = suite.queries()[qname](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, qname
    assert "BroadcastNestedLoopJoin" not in plan, qname


@pytest.mark.parametrize(
    "qname",
    ["tfidf_search", "quality_ensemble", "hybrid_search", "table_diff"]
)
def test_only_deliberate_one_row_cross(spark, qname):
    """These queries carry ONE BroadcastNestedLoopJoin by design: the
    1-row corpus-stats relation (N / N+V) crossed onto the scored
    rows — bounded by construction (PLANS.md invariant's allowlist).
    Anything beyond that single bounded cross is a regression."""
    from magmapandas_spark.relational import suite

    df = suite.queries()[qname](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, qname
    # tfidf: the 1-row stats cross; ensemble: two signal crosses;
    # hybrid: BM25's 1-row stats cross + the 1-row dense query cross;
    # table_diff: the 1-row changed-price-delta cross
    assert plan.count("BroadcastNestedLoopJoin") <= (
        1 if qname in ("tfidf_search", "table_diff") else 2
    ), qname


# -- broadcasts materialize where the docstrings claim them ----------

@pytest.mark.parametrize(
    "qname",
    ["bloom_decontaminate", "tfidf_search", "ngram_contamination",
     "merge_upsert", "fuzzy_join"],
)
def test_small_side_is_broadcast(spark, qname):
    from magmapandas_spark.relational import suite

    df = suite.queries()[qname](spark, SF)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan, qname
    # and the corpus side must not hash-shuffle INTO those joins: every
    # join in the plan is broadcast-shaped, not SortMergeJoin
    if qname in ("bloom_decontaminate", "ngram_contamination"):
        assert "SortMergeJoin" not in plan, qname


# -- scan-local projections stay in one codegen span -----------------

def test_pii_projection_is_codegen(spark):
    from magmapandas_spark.relational import suite

    df = suite.queries()["pii_scan"](spark, SF)
    df.collect()  # finalize THIS query execution's adaptive plan
    plan = plan_of(df)
    # '*(n)' prefixes mark WholeStageCodegen spans in the final plan
    assert re.search(r"\*\(\d+\) Project", plan)
    # pure expression tier: no Python eval nodes, and the operator
    # itself must not hash-shuffle
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_bpe_stays_jvm_side_no_shuffle(spark):
    """The BPE merge chain uses higher-order functions (filter /
    transform lambdas), which Spark evaluates as JVM interpreted
    expressions OUTSIDE whole-stage codegen — still vectorized-scan,
    still zero Python, but the honest claim is 'JVM expression tier',
    not 'codegen span'. The operator itself must not hash-shuffle
    (only the final orderBy's range exchange appears)."""
    from magmapandas_spark.relational import suite

    df = suite.queries()["bpe_tokens"](spark, SF)
    df.collect()
    plan = plan_of(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 0


# -- codecs run as exactly one Arrow stage ---------------------------

@pytest.mark.parametrize("qname", ["warc_records", "warc_gz_records",
                                   "png_decode", "wav_chunks"])
def test_codec_is_single_arrow_stage(spark, qname):
    from magmapandas_spark.relational import suite

    df = suite.queries()[qname](spark, SF)
    plan = plan_of(df)
    assert plan.count("MapInPandas") == 1, qname


# -- KMV bottom-k is a two-phase aggregation, not a sort window ------

def test_kmv_bottom_k_has_no_sort_window(spark):
    """kmv_distinct's claim to mergeability requires the plan to be
    two partial-aggregatable phases — a row_number() window (per-group
    TOTAL sort of the distinct relation) is exactly the cost the
    sketch exists to avoid at 100 TB."""
    from magmapandas_spark.operators.sketches import kmv_distinct

    events = spark.read.parquet(f"{SF}/events.parquet")
    df = kmv_distinct(events, "event_type", "user_id")
    plan = plan_of(df)
    assert "Window" not in plan
    assert "Sort" not in plan
    # collect_set aggregates via ObjectHashAggregate — both phases
    assert "ObjectHashAggregate" in plan


# -- robots verdict is an argmax aggregation, not a sort window ------

def test_robots_verdict_has_no_sort(spark):
    """The RFC 9309 winning-rule verdict must compile to a hash
    aggregation (max_by with map-side partial merge) — a row_number
    window would total-sort every URL's candidate rules at crawl
    scale."""
    from magmapandas_spark.operators.webcorpus import (
        canonicalize_urls,
        robots_filter,
        synthetic_pages,
        synthetic_robots_rules,
    )

    pages = canonicalize_urls(synthetic_pages(spark))
    urls = pages.select(
        "doc_id", "host", F.lit("/path/3").alias("path")
    )
    df = robots_filter(urls, synthetic_robots_rules(spark))
    plan = plan_of(df)
    assert "Window" not in plan
    assert "Sort" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


# -- the driver-status rule: merge keeps base un-shuffled ------------

def test_merge_upsert_base_side_streams(spark):
    from magmapandas_spark.operators.maintenance import merge_upsert

    base = spark.read.parquet(f"{SF}/orders.parquet")
    cdc = base.limit(10).withColumn("_delete", F.lit(False))
    plan = plan_of(merge_upsert(base, cdc, "o_orderkey", "_delete"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


# -- BM25 is scan-local: no explode, no per-doc/per-term shuffle ------

def test_bm25_has_no_explode_and_no_hash_shuffle(spark):
    """bm25_scores computes per-term tf as size(filter(tokens)) in the
    scan projection — the whole query must show NO Generate (explode)
    and NO hash-partitioned exchange: the only data movement is the
    one-row stats aggregation riding a broadcast back, and the top-k
    is a TakeOrdered, not a global sort."""
    from magmapandas_spark.relational import suite

    df = suite.queries()["bm25_search"](spark, SF)
    plan = plan_of(df)
    assert "Generate" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "TakeOrderedAndProject" in plan


# -- line dedup reassembles via aggregation, not a window/sort --------

def test_line_dedup_reassembly_is_aggregation(spark):
    """line_dedup rebuilds page text with array_sort over collected
    (pos, line) structs — an ObjectHashAggregate with map-side partial
    merge. A Window or Sort before the reassembly would total-sort
    every page's lines at crawl scale."""
    from magmapandas_spark.relational import suite

    df = suite.queries()["line_dedup"](spark, SF)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- hashed classifier & weighted sampler are fully scan-local --------

def test_quality_classifier_is_scan_local(spark):
    """The linear-model feature sum folds integer weights over the
    token array INSIDE the scan projection — the operator must show
    no exchange of any kind, no explode, no Python."""
    from magmapandas_spark.operators.scoring import (
        hashed_linear_classifier,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(hashed_linear_classifier(docs))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_weighted_sample_is_takeordered(spark):
    """A-ES weighted sampling is a scan-local priority projection +
    TakeOrdered — no hash shuffle, no Window, no global Sort stage."""
    from magmapandas_spark.operators.curation import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(weighted_sample(docs, "n_chars", 200))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Window" not in plan


# -- DSIR stats ride a broadcast, never a sort-merge join -------------

def test_dsir_stats_are_broadcast(spark):
    """dsir_importance joins exploded tokens against the ≤ n_buckets
    bucket-stats relation — that side must be broadcast (it is bounded
    by construction); a SortMergeJoin there would shuffle the full
    token stream a second time. Since the r13 materialization of the
    bucket-stats LM state, stats arrive as a checkpointed relation
    (Scan ExistingRDD) under an explicit broadcast hint; the one
    allowed SortMergeJoin is the final doc-grain left join attaching
    scores to doc ids — the correct 100 TB shape for an O(docs)
    relation (broadcasting it would only be a small-sf accident)."""
    from pyspark.sql import functions as F
    from magmapandas_spark.operators.scoring import dsir_importance

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dsir_importance(docs, F.col("lang") == "en"))
    assert "BroadcastHashJoin" in plan
    # at most ONE sort-merge join, and it must be keyed on the doc id
    # (the score-attach join) — an SMJ keyed on the bucket column `b`
    # would be the token⋈stats shuffle this pin exists to forbid
    assert plan.count("SortMergeJoin") <= 1
    if "SortMergeJoin" in plan:
        smj_key = plan.split("SortMergeJoin [")[1].split("#")[0]
        assert smj_key == "doc_id", smj_key
    assert "Scan ExistingRDD" in plan  # materialized LM state
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- JSONL parsing happens in the scan projection ---------------------

def test_jsonl_parse_is_scan_local(spark):
    from magmapandas_spark.operators.jsonl import (
        parse_jsonl,
        synthetic_jsonl,
    )

    plan = plan_of(parse_jsonl(synthetic_jsonl(spark)))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- grouped top-k and inverted index: aggregation, never a window ----

def test_group_topk_has_no_window(spark):
    """group_topk ranks per-group rows via the two-phase truncating
    aggregation — a Window (row_number) would total-sort every group
    at crawl scale."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["domain_topk"](spark, SF))
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_inverted_index_postings_are_aggregation(spark):
    """Posting lists assemble inside the per-term aggregation
    (array_sort over collected structs) — no Window, no Sort feeding
    the aggregate."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["inverted_index"](spark, SF))
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_inverted_index_lookup_is_bucket_pruned(spark):
    """A literal-term lookup against the persisted bucketed index
    scans matching buckets only — no Exchange, no join in the plan."""
    from magmapandas_spark.operators.indexing import (
        inverted_index,
        lookup_terms,
        write_inverted_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    spark.sql("DROP TABLE IF EXISTS inv_idx_test")
    write_inverted_index(inverted_index(docs), "inv_idx_test", 8)
    # the auto-bucketed-scan heuristic only keeps bucketed reads when
    # a join/agg consumes the bucketing — turn it off to exercise the
    # point-lookup bucket pruning the index is laid out for
    prev = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    )
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    try:
        df = lookup_terms(spark, "inv_idx_test", ["the", "and"])
        plan = plan_of(df)
        assert "Exchange" not in plan
        assert "SelectedBucketsCount: 2 out of 8" in plan, plan
        assert df.count() >= 0
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
        spark.sql("DROP TABLE IF EXISTS inv_idx_test")


# -- ANALYZE runs as ONE multi-distinct scan --------------------------

def test_table_stats_two_narrow_scans_no_expand(spark):
    """table_stats runs as two NARROW scans — one single-row pass for
    null/min/max, one unpivoted two-phase distinct for the NDVs — and
    the only join is the 11-row broadcast stitching them. Spark's
    Expand-based multi-distinct (measured 10-20× slower at sf0.1: it
    drags every aggregate buffer through an 11×-wide shuffle) must
    never come back."""
    from magmapandas_spark.operators.stats import table_stats

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = plan_of(table_stats(li))
    assert "Expand" not in plan
    assert plan.count("FileScan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- Lloyd assignment is scan-local -----------------------------------

def test_kmeans_assignment_is_scan_local(spark):
    """The per-iteration argmin assignment against broadcast (literal)
    centroids is a pure expression in the scan projection — no
    exchange of any kind, no join, no Python. The only shuffle in the
    whole iteration is the k-row centroid-update aggregation."""
    from magmapandas_spark.operators.kmeans import _assign_cells
    from magmapandas_spark.operators.similarity import (
        ivf_fit_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_fit_centroids(SF)
    plan = plan_of(_assign_cells(emb, cents, "vec_id", "embedding"))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- binary ANN: the Hamming stage carries codes, never vectors -------

def test_binary_topk_hamming_is_code_only(spark):
    """The query×corpus Hamming stage is ONE bounded broadcast cross
    of (id, code-halves) longs — no Python, no extra BNL, and the
    candidate ranking window runs before any vector re-join."""
    from magmapandas_spark.relational import suite

    df = suite.queries()["binary_topk"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- round-6 second-wave analytics tier ------------------------------

def test_linreg_is_one_aggregation_no_join_no_window(spark):
    from magmapandas_spark.operators.regression import q_linreg_normal

    plan = plan_of(q_linreg_normal(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    # partial+final hash aggregate pair, nothing more
    assert plan.count("HashAggregate") == 2
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert "l_tax" not in m.group(1)  # only the 4 consumed columns


def test_ols_multi_is_one_aggregation_no_join(spark):
    from magmapandas_spark.operators.regression import q_ols_multi

    plan = plan_of(q_ols_multi(spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2


def test_scd2_has_no_join_single_partitioning(spark):
    from magmapandas_spark.operators.analytics import q_scd2_build

    plan = plan_of(q_scd2_build(spark, SF))
    assert "Join" not in plan
    # adjacency via lag/lead windows, all on the user_id partitioning:
    # exactly one user-keyed hash exchange feeds them
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_funnel_windows_share_one_shuffle(spark):
    from magmapandas_spark.operators.analytics import (
        q_funnel_conversion,
    )

    plan = plan_of(q_funnel_conversion(spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_token_pmi_vocab_joins_are_broadcast(spark):
    from magmapandas_spark.operators.analytics import token_pmi
    from magmapandas_spark.operators.dedup import fan_out

    docs = fan_out(spark.read.parquet(f"{SF}/documents.parquet"))
    # eager=False: the gate query checkpoints its result (so the
    # vocabulary cache can be released), which replaces the plan with
    # an ExistingRDD scan — introspect the lazy form instead
    plan = plan_of(token_pmi(docs, eager=False))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_agg_no_join(spark):
    from magmapandas_spark.operators.analytics import q_incremental_agg

    plan = plan_of(q_incremental_agg(spark, SF))
    assert "Join" not in plan


def test_transitions_no_join(spark):
    from magmapandas_spark.operators.analytics import (
        q_event_transitions,
    )

    plan = plan_of(q_event_transitions(spark, SF))
    assert "Join" not in plan


def test_session_paths_no_self_join(spark):
    from magmapandas_spark.operators.analytics import q_session_paths

    plan = plan_of(q_session_paths(spark, SF))
    # sessionization + path assembly never self-join; the only join is
    # the one-row total broadcast (its subtree re-derives the paths
    # relation — AQE's identical-shuffle reuse collapses the second
    # user-keyed exchange at runtime)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_triangle_count_no_cartesian_on_data(spark):
    from magmapandas_spark.operators.graph import q_triangle_count

    plan = plan_of(q_triangle_count(spark, SF))
    # the only nested-loop joins are the two one-row global-stat
    # broadcasts; wedge closure is hash equi-joins
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_table_diff_join_is_digest_narrow(spark):
    """The snapshot-diff outer join must consume (key, digest)
    projections — md5 reduces rows BEFORE the join, and the payload
    columns (o_orderpriority etc.) never ride the wide join: they
    reappear only in the bounded changed-key value fetch. Since the
    r13 materialization, the gate query checkpoints the (key, change)
    diff once, so the md5/FullOuter shape is pinned on the UNDERLYING
    table_diff relation and the gate plan is pinned to consume the
    materialized diff instead of re-running the digest join per
    consuming branch."""
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.maintenance import table_diff
    from magmapandas_spark.relational import suite

    old = spark.read.parquet(f"{SF}/orders.parquet")
    new = old.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    lazy_plan = plan_of(table_diff(old, new, "o_orderkey"))
    assert "CartesianProduct" not in lazy_plan
    assert "md5" in lazy_plan
    # the FULL OUTER join exists and consumes narrow projections
    assert "FullOuter" in lazy_plan

    df = suite.queries()["table_diff"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # the diff is materialized once: the gate plan reads the
    # checkpointed relation and never re-runs the digest join
    assert "Scan ExistingRDD" in plan
    assert "FullOuter" not in plan


# -- association rules, graph, spatial, privacy, robust stats ---------


def test_copurchase_topk_is_takeordered(spark):
    """Global top-50 rules come from orderBy+limit (distributed
    TakeOrdered), never a single-partition sort window over the full
    pair relation; the only nested-loop join is the 1-row order-count
    broadcast."""
    from magmapandas_spark.operators.assoc import q_copurchase_lift

    plan = plan_of(q_copurchase_lift(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_label_propagation_topk_is_takeordered(spark):
    from magmapandas_spark.operators.graph import q_label_propagation

    plan = plan_of(q_label_propagation(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geo_nearest_is_hash_equi_join(spark):
    """The spatial join is an equi-join on the grid cell (hash join),
    never a nested-loop theta join on distance."""
    from magmapandas_spark.operators.spatial import q_geo_nearest

    plan = plan_of(q_geo_nearest(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_randomized_response_is_one_aggregation(spark):
    """The DP mechanism is scan-local: one shuffle (the group-by),
    no joins, no windows."""
    from magmapandas_spark.operators.privacy import q_randomized_response

    plan = plan_of(q_randomized_response(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan


def test_ewma_is_single_window_no_join(spark):
    from magmapandas_spark.operators.robust import q_ewma_smooth

    plan = plan_of(q_ewma_smooth(spark, SF))
    assert "Join" not in plan
    # exactly one window pass computes all 16 lags
    assert plan.count("Window") == 1


def test_projection_is_scan_local(spark):
    """The 8 projected coordinates are computed inside the scan
    stage: no exchange between the parquet scan and the projection."""
    from magmapandas_spark.operators.projection import project_embeddings

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(project_embeddings(emb))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_sentence_stats_no_join(spark):
    from magmapandas_spark.operators.curation import q_sentence_stats

    plan = plan_of(q_sentence_stats(spark, SF))
    assert "Join" not in plan
    # the explode carries sentence LENGTHS onward, not bodies: the
    # post-explode project keeps only (doc_id, source, length(s))
    assert "CartesianProduct" not in plan


def test_attribution_joins_are_keyed(spark):
    from magmapandas_spark.operators.analytics import q_attribution

    plan = plan_of(q_attribution(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_setsim_join_no_cartesian(spark):
    """Candidate generation is the prefix-rank equi-join; verify and
    enrichment are keyed joins — nothing nested-loop."""
    from magmapandas_spark.operators.setjoin import q_setsim_join

    plan = plan_of(q_setsim_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dominant_suppliers_semi_reduction_is_broadcast(spark):
    """The part filter reaches the lineitem scan side as a broadcast
    hash join — the Q20 semi-join reduction, never a shuffle of the
    unfiltered fact."""
    from magmapandas_spark.operators.analytics import q_dominant_suppliers

    plan = plan_of(q_dominant_suppliers(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bootstrap_explode_is_scan_local(spark):
    """The B-fold replicate explode multiplies the SCAN, never a
    shuffle: exactly one exchange (the (group, replicate) aggregation)
    before the 40-row-per-group rank window."""
    from magmapandas_spark.operators.stats import q_bootstrap_ci

    plan = plan_of(q_bootstrap_ci(spark, SF))
    assert "Join" in plan  # est x ci join only
    assert "CartesianProduct" not in plan
    # the explode (Generate) happens under the first aggregate
    assert "Generate" in plan


def test_benford_is_two_aggregations(spark):
    from magmapandas_spark.operators.validation import q_benford_audit

    plan = plan_of(q_benford_audit(spark, SF))
    assert "CartesianProduct" not in plan
    # the 9-row expected table and the 1-row total ride broadcasts
    assert "SortMergeJoin" not in plan


# -- round-8 fixes ----------------------------------------------------


def test_random_projection_topk_is_takeordered(spark):
    """Both top-k's (projected- and full-space) are orderBy+limit
    (distributed TakeOrdered per-partition heaps) — the r7-judge
    global-row_number sort windows over the corpus-sized scored
    relation are gone; the membership flag is a broadcast join of the
    k surviving ids, and the only remaining Window sorts the k
    already-limited rows."""
    from magmapandas_spark.operators.projection import q_random_projection

    plan = plan_of(q_random_projection(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # any Window in the plan must sit above a GlobalLimit (the k-row
    # rank), never directly over the scored relation
    assert "GlobalLimit" in plan or plan.count("Window") == 1
    # the 1-row query vector and the k-id membership list broadcast
    assert "SortMergeJoin" not in plan


def test_two_hop_reach_topk_is_takeordered(spark):
    from magmapandas_spark.operators.graph import q_two_hop_reach

    plan = plan_of(q_two_hop_reach(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rake_keywords_topk_is_takeordered(spark):
    """Vocabulary aggregation + TakeOrdered — no global rank window,
    no UDF (the tokenize/filter chain is whole-stage codegen)."""
    from magmapandas_spark.operators.keywords import q_rake_keywords

    plan = plan_of(q_rake_keywords(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_sketch_has_no_global_sort_windows(spark):
    """The sketch-binned RFM path must not contain the exact twin's
    three corpus-sized global rank windows: every Window in its plan
    partitions by the 3-metric histogram key, and binning is a
    broadcast of one 12-edge row."""
    from magmapandas_spark.operators.analytics import q_rfm_segments_sketch

    plan = plan_of(q_rfm_segments_sketch(spark, SF))
    # the only window is the per-metric cumulative histogram sum —
    # partitioned (3 bounded partitions), never an empty partition spec
    for spec in window_partition_specs(plan):
        assert spec.strip(), "unpartitioned Window in sketch path"
    assert "row_number" not in plan.lower()


def test_balanced_sample_is_aggregations_plus_broadcast(spark):
    """The class-balance pass touches the corpus twice (counts, then
    the filtered recount) with the |classes|-row rate table broadcast
    back — no window, no corpus-sized sort-merge join, no UDF."""
    from magmapandas_spark.operators.curation import q_balanced_sample

    plan = plan_of(q_balanced_sample(spark, SF))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_impact_is_two_aggregations_no_join(spark):
    """Cluster grain then size grain: two hash aggregations, nothing
    else — no join, no window, the dedup_exact two-phase shape."""
    from magmapandas_spark.operators.dedup import q_dedup_impact

    plan = plan_of(q_dedup_impact(spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_knn_label_noise_windows_are_partitioned(spark):
    """The constant 50-query slice broadcasts against the corpus; every
    Window (k-NN rank, majority-vote rank) partitions by qid — no
    unpartitioned global sort, no corpus-sized SMJ."""
    from magmapandas_spark.operators.evaluation import q_knn_label_noise

    plan = plan_of(q_knn_label_noise(spark, SF))
    for spec in window_partition_specs(plan):
        assert spec.strip(), "unpartitioned Window in knn path"
    assert "CartesianProduct" not in plan


def test_corr_matrix_is_one_aggregation_no_join(spark):
    """All 6 Pearson pairs come from ONE scan's power sums: a single
    global aggregate (map-side combined) exploded into pair rows — no
    join, no window, no per-pair rescan."""
    from magmapandas_spark.operators.stats import q_corr_matrix

    plan = plan_of(q_corr_matrix(spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_seasonal_profile_no_window_no_smj(spark):
    """Cell aggregation + 1-row global roll-up broadcast back: no
    window, no corpus-sized sort-merge join."""
    from magmapandas_spark.operators.timeseries import q_seasonal_profile

    plan = plan_of(q_seasonal_profile(spark, SF))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_gini_windows_are_per_nation(spark):
    """Every rank window partitions by nation (the MAD exact-twin
    posture); the 25-row nation dim broadcasts."""
    from magmapandas_spark.operators.analytics import q_gini_concentration

    plan = plan_of(q_gini_concentration(spark, SF))
    for spec in window_partition_specs(plan):
        assert spec.strip(), "unpartitioned Window in gini plan"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gini_sketch_histogram_path_windows_are_bounded(spark):
    """The sketch path's cumulative windows partition by nation over
    <= 1000 histogram bins; the exact rank window (the measurement
    twin) also partitions by nation. No window in the plan is
    unpartitioned."""
    from magmapandas_spark.operators.analytics import q_gini_sketch

    plan = plan_of(q_gini_sketch(spark, SF))
    for spec in window_partition_specs(plan):
        assert spec.strip(), "unpartitioned Window in gini_sketch plan"
    assert "CartesianProduct" not in plan


def test_text_hapax_is_two_aggregations(spark):
    """Scan-local tokenize+explode, vocabulary-sized count, |langs|
    roll-up — no window, no join."""
    from magmapandas_spark.operators.curation import q_text_hapax

    plan = plan_of(q_text_hapax(spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_psi_drift_is_bin_bounded(spark):
    """Two corpus scans into 10-row bin aggregates, everything past
    them 10-row assembly: no window, no SMJ, no corpus-sized join."""
    from magmapandas_spark.operators.stats import q_psi_drift

    plan = plan_of(q_psi_drift(spark, SF))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_ngram_novelty_join_is_keyed(spark):
    """The vocabulary count-back join is keyed (broadcast at gate
    scale via AQE; co-partitioned exchange reuse at corpus scale) —
    never a cartesian, and every window-free."""
    from magmapandas_spark.operators.dedup import q_ngram_novelty

    plan = plan_of(q_ngram_novelty(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


@pytest.mark.parametrize(
    "qname",
    [
        "l_diversity",
        "t_closeness",
        "mutual_info",
        "fd_check",
        "degree_assortativity",
        "length_lognormal",
        "seasonal_outliers",
        "grouping_sets_revenue",
        "unpivot_profile",
    ],
)
def test_late_round8_aggregation_shapes(spark, qname):
    """The late-round-8 profiling/audit tier is aggregation-shaped:
    no window anywhere, no cartesian product, no Python eval node."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()[qname](spark, SF))
    assert "Window" not in plan, qname
    assert "CartesianProduct" not in plan, qname
    assert "BatchEvalPython" not in plan, qname


@pytest.mark.parametrize(
    "qname", ["video_fingerprint", "audio_fingerprint", "image_fingerprint"]
)
def test_fingerprint_queries_decode_exactly_once(spark, qname):
    """The collision count is an fp-partitioned window over the ONE
    Arrow decode stage — a groupBy+join-back would re-run the decode
    on both join subtrees (2x the dominant cost at corpus scale).
    Every Window partitions by fp."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()[qname](spark, SF))
    assert plan.count("MapInPandas") == 1, qname
    for spec in window_partition_specs(plan):
        assert spec.strip(), qname


@pytest.mark.parametrize(
    "qname", ["h264_ac_decode", "h264_i4x4_decode", "h264_ladder_decode"]
)
def test_round9_codec_notches_single_decode_stage(spark, qname):
    """The round-9 codec notches keep the ladder's posture: exactly
    ONE Arrow decode stage, no join, no window — payload bytes never
    leave the executor, a fixed handful of integer stats per frame
    come out."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()[qname](spark, SF))
    assert plan.count("MapInPandas") == 1, qname
    assert "Join" not in plan, qname
    assert "Window" not in plan, qname


def test_crossmodal_dedup_legs_decode_once_and_join_broadcast(spark):
    """The cross-modal report composes the four fingerprint legs:
    each codec leg keeps its single Arrow decode stage (3 MapInPandas
    total — text is pure expressions), every window partitions by a
    fingerprint key, and the asset-grain joins are ALL broadcast
    (never a shuffled/sort-merge join: the legs aggregate to the
    12-asset spine before joining)."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["crossmodal_dedup"](spark, SF))
    assert plan.count("MapInPandas") == 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_build_funnel_shape(spark):
    """The corpus-build funnel: no sort-merge or cartesian joins
    (Bloom chain = broadcast semi joins, flag attach = broadcast
    left join), and every window partitions by the dedup prefix
    hash."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["corpus_build_funnel"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for spec in window_partition_specs(plan):
        assert spec.strip()


def test_amplifying_scans_are_fanned_out(spark):
    """Round-10 fix pinned: the bootstrap B-fold explode, the Lloyd
    iteration cache, and the setjoin shingle explode amplify rows
    inside the scan stage — a NARROW input must see a round-robin
    Exchange BEFORE the amplification (or the whole pipeline
    serializes onto one core), and an already-wide input must not pay
    a second exchange."""
    from magmapandas_spark.operators.stats import bootstrap_mean_ci

    # narrow input (1 partition, the single-row-group regime): the
    # fan-out exchange must appear under the replicate explode
    ev = spark.read.parquet(f"{SF}/events.parquet").coalesce(1)
    plan = plan_of(bootstrap_mean_ci(ev, "event_type", "value", "event_id"))
    assert "roundrobinpartitioning" in plan.lower()
    assert "Generate explode" in plan

    # wide input: fan_out is a no-op — the only round-robin exchanges
    # are the caller's own repartition(64) (the input relation appears
    # in both the replicate and the estimate subtree); fan_out's
    # shuffle-partition-sized target must NOT appear
    wide = spark.read.parquet(f"{SF}/events.parquet").repartition(64)
    plan_w = plan_of(
        bootstrap_mean_ci(wide, "event_type", "value", "event_id")
    ).lower()
    tgt = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert f"roundrobinpartitioning({tgt})" not in plan_w
    assert "roundrobinpartitioning(64)" in plan_w

    from magmapandas_spark.operators.setjoin import setjoin_jaccard

    docs = spark.read.parquet(f"{SF}/documents.parquet").coalesce(1)
    # setjoin checkpoints mid-pipeline (the exchange lands in the
    # checkpointed prefix), so assert on the full lazy build instead:
    # running it from a 1-partition input must produce >1 shuffle
    # partition of shingle work — cheapest observable: the plan of the
    # pre-checkpoint token relation
    from magmapandas_spark.operators.curation import word_tokens
    from magmapandas_spark.operators.dedup import fan_out
    from pyspark.sql import functions as F2

    toks = fan_out(docs).select(
        "doc_id", F2.explode(word_tokens("text")).alias("t")
    )
    assert "roundrobinpartitioning" in plan_of(toks).lower()


# =====================================================================
# Round-11: pins for the top-10 bench queries (r10 verdict item 4) —
# the queries a future "fan out"-style sweep could silently regress
# the way ivf_topk regressed in r10. Queries already pinned above
# (table_stats, setsim_join, crossmodal_dedup, copurchase_lift) are
# not repeated.
# =====================================================================

def test_ivf_topk_assignment_partial_agg_no_corpus_window(spark):
    """The r11 ivf_topk rewrite pinned: corpus cell-assignment is a
    groupBy(cid).min(struct(sd, cell)) whose PARTIAL aggregate
    collapses the 8× seed crossJoin map-side — the exchange carries N
    one-row groups, never 8N rows dragging the 64-double vector. No
    window may ever partition on cid again (the pre-r11 shape that
    shuffled 8× the corpus), and the probe→corpus join stays a
    broadcast equi-join on cell."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["ivf_topk"](spark, SF))
    # map-side combine of the assignment argmin
    assert "partial_min(struct(sd" in plan
    # every window is probe(qid)-keyed; the corpus-side window is gone
    specs = window_partition_specs(plan)
    assert specs and all("qid" in s for s in specs)
    # probed search joins on cell with the tiny probe side broadcast
    assert "BroadcastHashJoin [cell" in plan
    # the only nested-loop joins are the two deliberate 8-row
    # seed-codebook crosses (corpus assignment + probe assignment)
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_kmeans_iteration_stats_two_hashaggs_no_join(spark):
    """One Lloyd iteration = scan-local assignment expression feeding
    a partial+final HashAggregate pair on cell — no join, no window,
    no Python, and exactly two exchanges: the fan_out round-robin
    (narrow gate input) and the k-row cell aggregation. This is the
    per-iteration job kmeans_refine pays iters× — an extra exchange
    here multiplies by the iteration count."""
    from magmapandas_spark.operators.dedup import fan_out
    from magmapandas_spark.operators.kmeans import _assign_cells
    from magmapandas_spark.operators.similarity import ivf_fit_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_fit_centroids(SF)
    assigned = _assign_cells(
        fan_out(emb.select("vec_id", "embedding")),
        cents, "vec_id", "embedding",
    )
    stats = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.element_at("embedding", i + 1)
                .cast("double")
                .cast("decimal(28,12)")
            ).alias(f"s{i}")
            for i in range(64)
        ],
    )
    plan = plan_of(stats)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_minhash_candidates_banded_join_no_explosion(spark):
    """The MinHash-LSH candidate pipeline (lsh_recall_eval's heavy
    approximate leg; its exact leg is pinned by
    test_setsim_join_no_cartesian): candidate pairs come from ONE
    equi-join on the (band, sig) bucket key with the id1 < id2
    dedup predicate inside the join — never a cartesian, never a
    Python stage, and the signature build is a partial+final
    aggregate pair (map-side combined minhash mins)."""
    from magmapandas_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        minhash_lsh_candidates(docs, hash_strategy="md5").select(
            "id1", "id2"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [
        l for l in plan.splitlines()
        if "Join [band" in l or "Join [sig" in l
    ]
    assert len(joins) == 1 and "doc_id" in joins[0]  # id< inside join
    assert plan.count("HashAggregate") == 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_pq_topk_seeded_broadcast_crosses_no_python(spark):
    """PQ encode + ADC: the only nested-loop joins are the two
    deliberate broadcasts of the 16-row seed codebook / per-query
    code rows (encode cross + ADC cross); code-pivot and lookup joins
    are keyed; the entire pipeline is expression-tier (no Python).
    r11: the per-(vector, subspace) argmin is a map-side-combined
    min(struct) aggregate — the encode exchange carries N·M one-row
    groups, never N·M·|seeds| window rows — so the only window left
    is the qid-keyed top-k."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["pq_topk_seeded"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_min(struct(sd" in plan
    specs = window_partition_specs(plan)
    assert specs and all("qid" in s for s in specs)


def test_semdedup_assignment_scan_local_grouped_kernel(spark):
    """SemDeDup (lazy plan): cell assignment is the scan-local
    array_min fold — NO crossJoin against the codebook, NO
    assignment window — and the within-cell comparison is ONE
    grouped Arrow kernel (FlatMapGroupsInPandas) fed by a single
    exchange on the group key: no pair self-join, no pair-relation
    broadcast, no second aggregation, no output join (the r12
    rewrite collapsed all four into the kernel)."""
    from magmapandas_spark.operators.similarity import (
        ivf_fit_centroids,
        semdedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semdedup(emb, ivf_fit_centroids(SF), materialize=False)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_min" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Join" not in plan  # verdict needs no join at all
    specs = window_partition_specs(plan)
    assert not specs  # no window anywhere on this path
    emb.sparkSession.catalog.clearCache()


def test_ivf_seeded_assignment_partial_agg_no_corpus_window(spark):
    """The seeded-IVF twin of the ivf_topk pin: corpus assignment is
    the map-side-combined groupBy(cid).max(struct(scos, -seed_id)),
    every remaining window is probe(qid)-keyed, the probed search is
    a broadcast equi-join on cell, and the only nested-loop joins are
    the two deliberate seed-codebook crosses."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["ivf_topk_seeded"](spark, SF))
    assert "partial_max(struct(scos" in plan
    specs = window_partition_specs(plan)
    assert specs and all("qid" in s for s in specs)
    assert "BroadcastHashJoin [cell" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_hard_negatives_argmax_is_partial_agg_no_window(spark):
    """r12: the per-(anchor, polarity) best-candidate selection is the
    map-side-combined max(struct(cos, -cid)) aggregate — no window
    sorts the |anchors|×N candidate relation, and the partial
    aggregate collapses it before the exchange."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["hard_negatives"](spark, SF))
    assert "partial_max(struct(cos" in plan
    assert not window_partition_specs(plan)
    assert "CartesianProduct" not in plan


def test_er_golden_survivorship_is_partial_agg_no_window(spark):
    """r12: golden-record survivorship is ONE aggregate carrying both
    the member count and max(struct(p_size, -node, payload)) — the
    former row_number + count window pair is gone."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["er_golden"](spark, SF))
    assert "partial_max(struct(p_size" in plan
    assert not window_partition_specs(plan)


def test_geo_nearest_argmin_is_partial_agg_no_window(spark):
    """r12: nearest-candidate selection is min(struct(d2, ck)) + a
    count in one aggregate; the join stays a hash equi-join on the
    grid cell and no window remains."""
    from magmapandas_spark.operators.spatial import q_geo_nearest

    plan = plan_of(q_geo_nearest(spark, SF))
    assert "partial_min(struct(d2" in plan
    assert not window_partition_specs(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_funnel_keepfirst_is_partial_agg_no_window(spark):
    """r12: the funnel's stage-4 keep-first dedup is a
    map-side-combined min(struct(doc_id, payload)) per prefix hash —
    the former corpus-wide (h, doc_id) sort window that dragged the
    text column is gone."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["corpus_build_funnel"](spark, SF))
    assert "partial_min(struct(doc_id" in plan
    assert not window_partition_specs(plan)


def test_minhash_xxhash_signatures_are_two_hash_km(spark):
    """r12: the production xxhash64 minhash family computes TWO
    seed-separated digests per shingle and derives the n=32 signature
    rows by Kirsch–Mitzenmacher integer combination — a plan carrying
    32 xxhash64 invocations means the 16x-hashing regression came
    back (and with it the 2.4x cold-JIT penalty the r11 bench
    recorded)."""
    from magmapandas_spark.operators.dedup import (
        minhash_signatures,
        shingle_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        minhash_signatures(shingle_df(docs), hash_strategy="xxhash64")
    )
    assert plan.count("xxhash64") == 2, plan.count("xxhash64")
    # still the map-side-combined partial+final aggregate pair
    assert plan.count("HashAggregate") == 2


def test_dedup_keep_best_is_partial_agg_no_window(spark):
    """r12: the dedup KEEP policy's best-doc selection is ONE
    map-side-combined max(struct(quality, -id, payload)) aggregate —
    the former row_number window sorted the whole cluster relation."""
    from magmapandas_spark.relational import suite

    plan = plan_of(suite.queries()["dedup_keep_best"](spark, SF))
    assert "partial_max(struct(n_chars" in plan
    specs = window_partition_specs(plan)
    assert not specs
