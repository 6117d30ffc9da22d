"""Structured Streaming surface (SURVEY §2.9 — beyond-reference).

The reference is batch-only; the engine adds the streaming operators a
large-scale event/training-data pipeline needs, built so every GeoFrame
expression-tier operator also applies to streaming DataFrames (pure
Column expressions are streaming-safe).

Late-data policy: explicit watermarks on event time; aggregations emit
in append/update per Spark semantics. All queries here are also
runnable on the batch ``events`` table for the correctness gate
(streaming==batch parity is the test strategy).

Every ``streaming_*_ingest`` runs through one micro-batch runner,
:func:`_run_batches`: the query starts with ``foreachBatch`` under an
``availableNow`` trigger (process everything present, then stop), only
non-empty micro-batches reach the ingest's batch body, and the call
returns the finished query. A query that fails re-raises its error; one
still running after ``timeout_s`` is stopped and raises
``TimeoutError`` (:func:`_await`), so no caller reads state that a live
query is still writing. State that persists across micro-batches
folds through one read-merge-overwrite helper, :func:`_fold_state`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_ts_int64(spark: SparkSession, sf_dir: str) -> bool:
    """Inspect the parquet footer: the driver has shipped ``events.ts``
    both as int64 nanos (TIMESTAMP(NANOS), which Spark only reads via
    the nanosAsLong legacy flag, set here when needed) and as
    timestamp[us]. Driver-side metadata peek, no data read."""
    import pyarrow.parquet as pq

    field = pq.read_schema(f"{sf_dir}/events.parquet").field("ts")
    ts_int64 = str(field.type) in ("int64", "timestamp[ns]")
    if ts_int64:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return ts_int64


def _events_schema(ts_int64: bool) -> T.StructType:
    ts_type = T.LongType() if ts_int64 else T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _normalize_ts(df: DataFrame, ts_int64: bool) -> DataFrame:
    if ts_int64:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp[us] without UTC adjustment reads as TIMESTAMP_NTZ; cast
    # to session-tz TIMESTAMP (callers pin the session to UTC) so
    # window/session_window/unix_timestamp behave identically either way
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _stage_symlink(src: str, prefix: str) -> str:
    """Stage a read-only parquet file behind a /tmp symlink directory
    (the file stream source needs a directory it could watch for new
    files; testdata itself is read-only). Idempotent and safe against
    stale links: ``lexists`` sees a broken symlink (``exists`` would
    not, and the re-``symlink`` would raise FileExistsError forever),
    and a lost creation race with a concurrent session is fine as long
    as the winner linked the same target."""
    import hashlib
    import os

    src = os.path.abspath(src)
    stage = os.path.join(
        "/tmp", f"{prefix}_{hashlib.md5(src.encode()).hexdigest()[:8]}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, os.path.basename(src))
    if os.path.lexists(link) and (
        not os.path.exists(link) or os.path.realpath(link) != src
    ):
        os.remove(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (→ UTC timestamp),
    symlink-staged under /tmp (see :func:`_stage_symlink`)."""
    ts_int64 = _events_ts_int64(spark, sf_dir)
    stage = _stage_symlink(f"{sf_dir}/events.parquet", "events_stream")
    raw = spark.readStream.schema(_events_schema(ts_int64)).parquet(stage)
    return _normalize_ts(raw, ts_int64)


def read_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts_int64 = _events_ts_int64(spark, sf_dir)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _normalize_ts(raw, ts_int64)


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation per event type."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_value_avg(events: DataFrame, window: str = "2 hours",
                      slide: str = "1 hour",
                      watermark: str = "3 hours") -> DataFrame:
    """Sliding-window mean value per event type."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        # decimal sum / count, not F.avg: the streaming state store
        # merges partial aggregates in arrival order, so a double sum
        # would differ from the batch twin in the last ulp — the
        # decimal path is order-independent and exactly equal
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "avg_value", "n_events",
        )
    )


def user_sessions(events: DataFrame, gap: str = "30 minutes",
                  watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based sessionization)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.session_window("ts", gap).alias("s"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id", "n_events", "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame,
                           watermark: str = "1 hour") -> DataFrame:
    """Stateful exact dedup on event_id bounded by the watermark —
    the streaming twin of hash-groupBy dedup."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark)\
            .dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: cumulative per-user event count and
    value via ``applyInPandasWithState`` — the engine's
    ``applyInPandasWithState`` pattern for operators Spark lacks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _await(q, timeout_s):
    """Wait for ``q`` to finish and return it. A failed query re-raises
    its error here; one still running after ``timeout_s`` is stopped
    and raises ``TimeoutError`` naming it."""
    # awaitTermination returns False on timeout (None when it waited
    # without one)
    if q.awaitTermination(timeout_s) is False:
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout_s} s; stopped"
        )
    return q


def _run_batches(stream: DataFrame, checkpoint_dir: str, timeout_s, body):
    """The one micro-batch runner: call ``body(batch_df, batch_id)`` on
    every non-empty micro-batch of ``stream`` (``foreachBatch`` under an
    ``availableNow`` trigger, checkpointed at ``checkpoint_dir``) and
    return the finished query (see :func:`_await`)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.head(1):
            body(batch_df, batch_id)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return _await(q, timeout_s)


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "complete",
                         timeout_s: int = 120) -> DataFrame:
    """Execute a streaming query with availableNow (process everything,
    then stop) into a memory sink; returns the result table.

    ``complete`` for windowed aggregations (all windows emitted),
    ``append`` for row-level ops like watermarked dedup, ``update`` for
    stateful applyInPandasWithState."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout_s)
    return stream_df.sparkSession.table(name)


def streaming_dedup_ingest(
    doc_stream: DataFrame,
    index_table: str,
    accepted_path: str,
    checkpoint_dir: str,
    hash_strategy: str = "xxhash64",
    timeout_s: int = 120,
    fail_injector=None,
):
    """Streaming corpus ingestion with cross-batch dedup against a
    persisted LSH index — the production loop:

    per micro-batch (``foreachBatch``):
      1. probe the index (:func:`incremental_lsh_candidates`): docs
         sharing an LSH band bucket with an already-accepted doc are
         DUPLICATE candidates and are dropped;
      2. batch-internal self-dedup (:func:`minhash_lsh_candidates`,
         keep the min doc_id per candidate pair);
      3. append survivors to ``accepted_path`` (parquet) and their
         band rows to the index, so batch N+1 dedups against
         everything batch N accepted.

    Accept-set semantics (deterministic GIVEN the batch sequence): a
    doc is dropped iff it shares a band bucket with an
    earlier-ACCEPTED doc, or with a lower-id doc in its own batch
    (whether or not that doc itself survives). Batch boundaries can
    therefore shift which member of a duplicate cluster is kept — the
    cluster is still reduced to one representative either way, which
    is the dedup contract. foreachBatch is the canonical
    Structured-Streaming shape for stream→batch-relational joins like
    this (stream-static joins can't see same-run appends; re-reading
    the index per batch can).

    ``fail_injector`` is a test-only fault hook called with the
    batch_id at the TOP of every non-empty micro-batch, BEFORE any
    side effect — raising there simulates an executor/driver crash at
    a batch boundary, the recoverable failure point of this
    (non-atomic two-sink) batch body. The crash-recovery drill in
    tests/test_streaming_ingest.py restarts from the same checkpoint
    and asserts exactly-once acceptance. (A crash BETWEEN the two
    appends below is NOT exactly-once recoverable — the accepted
    parquet and the index would disagree on replay; at production
    scale that pairing belongs in one transactional table format,
    which is out of scope here and documented honestly rather than
    papered over.)

    Returns the finished StreamingQuery (already awaited)."""
    from magmapandas_spark.operators.dedup import (
        band_table,
        incremental_lsh_candidates,
        minhash_lsh_candidates,
    )
    def process(batch_df: DataFrame, batch_id: int) -> None:
        if fail_injector is not None:
            fail_injector(batch_id)
        batch_df = batch_df.localCheckpoint(eager=True)
        # 1. cross-batch: drop anything colliding with the index
        dup_new = incremental_lsh_candidates(
            batch_df, index_table, hash_strategy=hash_strategy
        ).select(F.col("new_id").alias("doc_id")).distinct()
        fresh = batch_df.join(dup_new, on="doc_id", how="anti")
        fresh = fresh.localCheckpoint(eager=True)
        # 2. within-batch: keep the min id of each candidate pair
        pairs = minhash_lsh_candidates(fresh, hash_strategy=hash_strategy)
        losers = pairs.select(F.col("id2").alias("doc_id")).distinct()
        keep = fresh.join(losers, on="doc_id", how="anti")
        keep = keep.localCheckpoint(eager=True)
        # 3. append survivors + their bands
        keep.write.mode("append").parquet(accepted_path)
        band_table(keep, hash_strategy=hash_strategy).write.mode(
            "append"
        ).insertInto(index_table)

    return _run_batches(doc_stream, checkpoint_dir, timeout_s, process)


# ---------------------------------------------------------------------
# Streaming corpus scrubbing (round 5): the web-corpus hygiene tier is
# expression-only, so it applies to a document STREAM unchanged — the
# ingest-time shape (scrub pages as they land, not in a nightly batch).
# ---------------------------------------------------------------------

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (symlink-staged
    under /tmp via the shared :func:`_stage_symlink` — testdata is
    read-only)."""
    stage = _stage_symlink(f"{sf_dir}/documents.parquet", "docs_stream")
    return spark.readStream.schema(_DOCS_SCHEMA).parquet(stage)


def scrub_documents(docs: DataFrame) -> DataFrame:
    """Streaming-safe corpus scrub: PII inventory + redaction plus the
    scan-local quality signals (token count, langid-independent length
    sanity). Stateless projection — no watermark, no state store; at
    ingest scale this is the map stage every arriving page flows
    through before it ever lands in the lake."""
    from magmapandas_spark.operators.curation import word_tokens
    from magmapandas_spark.operators.webcorpus import pii_exprs

    # ONE projection, no self-join: joining two projections of the
    # same stream would plan a StreamingSymmetricHashJoin that (with
    # no watermark) buffers every row of both sides in the state
    # store forever. All eight outputs are scan-local expressions
    # over a single row.
    return docs.select(
        "doc_id",
        "lang",
        F.size(word_tokens("text")).alias("n_words"),
        F.length("text").alias("len_chars"),
        *pii_exprs("text"),
    )


# ---------------------------------------------------------------------
# Streaming mergeable sketches (round 6): the sketch tier's state
# relations (HLL registers, CMS counters) merge elementwise — exactly
# the cross-micro-batch shape. Each micro-batch builds its own bounded
# sketch relation and folds it into a parquet state table; the final
# merged state is oracle-equal to the batch sketch over the union of
# all batches (tests/test_streaming_oracle.py pins exact equality).
# foreachBatch is the canonical shape: the merge reads the state the
# PREVIOUS batch wrote, which stream-static joins cannot see.
# ---------------------------------------------------------------------


def _fold_state(batch_rel: DataFrame, state_path: str, merge_fn) -> None:
    """The one read-merge-overwrite fold: ``merge_fn(state, batch_rel)``
    replaces the parquet state at ``state_path`` (``batch_rel`` alone
    starts it). The eager localCheckpoint materializes the merged
    relation BEFORE the path it was read from is overwritten — that is
    what makes reading and rewriting the same path safe. Sketch states
    stay sketch-sized (≤ m rows per group / d·w rows), a constant-cost
    fold per batch; the CDC merge's state is the full table."""
    import os

    spark = batch_rel.sparkSession
    if os.path.exists(state_path):
        merged = merge_fn(spark.read.parquet(state_path), batch_rel)
    else:
        merged = batch_rel
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(state_path)


def streaming_hll_ingest(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    timeout_s: int = 120,
):
    """Incremental per-group HyperLogLog over an event stream: each
    micro-batch's register relation (≤ m rows per group) merges into
    the state by elementwise max — registers are idempotent, so
    reprocessed rows cannot inflate the estimate (the at-least-once
    safety HLL gives for free). Returns the finished StreamingQuery;
    finalize the state with
    ``sketches.hll_estimate_from_registers(spark.read.parquet(state_path), group_col)``."""
    from magmapandas_spark.operators.sketches import (
        hll_register_relation,
        merge_hll_registers,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = hll_register_relation(batch_df, group_col, value_col)
        _fold_state(
            rel, state_path,
            lambda a, b: merge_hll_registers(a, b, group_col),
        )

    return _run_batches(events_stream, checkpoint_dir, timeout_s, process)


def streaming_cms_ingest(
    doc_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    timeout_s: int = 120,
):
    """Incremental count-min sketch over a document stream: each
    micro-batch's d×w counter relation merges into the state by
    elementwise sum (exact integer arithmetic — merge order is
    irrelevant bit-for-bit). Returns the finished StreamingQuery; the
    state parquet IS the sketch."""
    from magmapandas_spark.operators.sketches import (
        cms_counter_relation,
        merge_cms_counters,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = cms_counter_relation(batch_df, text_col)
        _fold_state(rel, state_path, merge_cms_counters)

    return _run_batches(doc_stream, checkpoint_dir, timeout_s, process)


def streaming_histogram_ingest(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    group_col: str = "event_type",
    value_col: str = "value",
    n_bins: int = 1000,
    timeout_s: int = 120,
):
    """Incremental per-group fixed-edge histogram over an event
    stream: micro-batch (group, bin, cnt) relations merge by
    elementwise integer sum. Fixed [lo, hi) edges are what make the
    histogram mergeable at all — the batch operator's data-derived
    (min, max) edges would differ per batch and not add. Returns the
    finished StreamingQuery; feed the state to any quantile consumer
    (rank mass is exact, resolution is one bin)."""
    from magmapandas_spark.operators.quantiles import (
        fixed_histogram_relation,
        merge_histograms,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = fixed_histogram_relation(
            batch_df, group_col, value_col, lo, hi, n_bins
        )
        _fold_state(
            rel, state_path,
            lambda a, b: merge_histograms(a, b, group_col),
        )

    return _run_batches(events_stream, checkpoint_dir, timeout_s, process)


def streaming_stats_ingest(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    timeout_s: int = 120,
):
    """Incremental ANALYZE over an ingest stream: each micro-batch's
    mergeable-stats relation (one row per column — counts, null
    counts, extrema) folds into the parquet state by sum/min/max.
    State is |columns| rows regardless of stream length, and the
    final state is bit-equal to one batch pass over the union — the
    table-stats freshness a continuously-ingested lake table needs
    without ever rescanning it. (Exact NDV is not mergeable and is
    deliberately absent; compose streaming_hll_ingest per column for
    an incremental distinct estimate.)"""
    from magmapandas_spark.operators.stats import (
        mergeable_stats_relation,
        merge_stats_relations,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = mergeable_stats_relation(batch_df, columns)
        _fold_state(rel, state_path, merge_stats_relations)

    return _run_batches(stream_df, checkpoint_dir, timeout_s, process)


def streaming_index_ingest(
    doc_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    max_postings: int = 1000,
    timeout_s: int = 120,
):
    """Incremental inverted-index maintenance: each micro-batch's
    posting-list relation folds into the parquet state — df/tf_total
    by integer sum, bottom-k posting arrays by concat → re-sort →
    re-truncate (exact under the append-only ingest contract: each
    doc arrives in exactly one batch, and every globally-smallest doc
    id is inside its own batch's bottom-k). Final state is bit-equal
    to the one-pass batch build over the union — a search index that
    stays fresh under continuous ingest without corpus rescans."""
    from magmapandas_spark.operators.indexing import (
        inverted_index_relation,
        merge_inverted_index,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = inverted_index_relation(
            batch_df, max_postings=max_postings
        )
        _fold_state(
            rel, state_path,
            lambda a, b: merge_inverted_index(a, b, max_postings),
        )

    return _run_batches(doc_stream, checkpoint_dir, timeout_s, process)


def streaming_reservoir_ingest(
    doc_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    weight_col: str = "n_chars",
    k: int = 200,
    key_col: str = "doc_id",
    timeout_s: int = 120,
):
    """Incremental Efraimidis–Spirakis weighted reservoir: each
    micro-batch's candidate top-k (md5-uniform priorities — stateless,
    so re-delivered rows recompute the SAME priority and dedupe in
    the union) merges with the running state by union → re-rank →
    re-truncate. The A-ES merge law (pinned as a property test in
    tests/test_round6_properties.py) makes the fold exact: the final
    state IS the batch weighted_sample over everything seen. State is
    ≤ k rows; the sample a 100 TB ingest keeps warm without ever
    revisiting data."""
    from magmapandas_spark.operators.curation import weighted_sample

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        u = a.unionByName(b).dropDuplicates([key_col])
        return u.orderBy(F.desc("priority"), key_col).limit(k)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cand = weighted_sample(batch_df, weight_col, k, key_col=key_col)
        _fold_state(cand, state_path, merge)

    return _run_batches(doc_stream, checkpoint_dir, timeout_s, process)


def streaming_validation_ingest(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    rules,
    timeout_s: int = 120,
):
    """Data-quality monitoring at ingest: each micro-batch's
    expectation report (row-level rules only — their violation counts
    merge by integer sum; unique/foreign_key need cross-batch state
    and belong to the batch pass) folds into a per-rule state whose
    counts equal one batch validation over the union exactly. The
    quality dashboard a 100 TB ingest keeps current without
    rescanning the lake."""
    from magmapandas_spark.operators.validation import validate

    row_kinds = {"not_null", "in_range", "accepted_values",
                 "matches_regex"}
    bad = [r.label for r in rules if r.kind not in row_kinds]
    if bad:
        raise ValueError(
            f"streaming validation takes row-level rules only: {bad}"
        )

    def merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("rule", "n_violations")
            .unionByName(b.select("rule", "n_violations"))
            .groupBy("rule")
            .agg(F.sum("n_violations").alias("n_violations"))
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = validate(batch_df, rules).select("rule", "n_violations")
        _fold_state(rel, state_path, merge)

    return _run_batches(stream_df, checkpoint_dir, timeout_s, process)


def streaming_transitions_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    timeout_s: int = 120,
):
    """Incremental first-order Markov transition counts over an event
    stream — the streaming twin of ``analytics.event_transitions``.

    Unlike the sketch folds, transitions are NOT order-independent:
    a user's adjacent events can straddle micro-batches, so a plain
    per-batch count undercounts every boundary adjacency. The fold
    therefore keeps TWO state relations under ``state_dir``:

    - ``counts``  — (from_state, to_state, n), additive merge;
    - ``boundary`` — each user's LAST seen event (one row per user),
      prepended to the next batch so the cross-batch adjacency is
      counted exactly once (its to-side must be a new row).

    Contract: per-user in-order ingest (the CDC / log-shipping
    regime; the availableNow file source replays files in order).
    Out-of-order arrivals would need watermarked buffering before the
    fold — the same caveat the watermarked-dedup operator documents.
    State is O(states² + users): the boundary relation is the one
    state that grows with the key space, exactly like any stateful
    sessionization. Finalize with
    :func:`finalize_streaming_transitions` — its output is frame-
    equal to the batch operator on the union of all batches.
    """
    import os

    counts_path = os.path.join(state_dir, "counts.parquet")
    boundary_path = os.path.join(state_dir, "boundary.parquet")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(user_col), F.col(type_col), F.col(ts_col),
            F.col(seq_col), F.lit(False).alias("_is_state"),
        )
        if os.path.exists(boundary_path):
            prev = spark.read.parquet(boundary_path).select(
                F.col(user_col), F.col(type_col), F.col(ts_col),
                F.col(seq_col), F.lit(True).alias("_is_state"),
            )
            allrows = prev.unionByName(batch)
        else:
            allrows = batch
        w = Window.partitionBy(user_col).orderBy(ts_col, seq_col)
        adj = allrows.select(
            F.col(user_col),
            F.lag(type_col).over(w).alias("from_state"),
            F.col(type_col).alias("to_state"),
            F.col("_is_state"),
        )
        new_counts = (
            adj.filter(
                F.col("from_state").isNotNull() & ~F.col("_is_state")
            )
            .groupBy("from_state", "to_state")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        _fold_state(
            new_counts,
            counts_path,
            lambda a, b: a.unionByName(b)
            .groupBy("from_state", "to_state")
            .agg(F.sum("n").alias("n")),
        )
        wb = Window.partitionBy(user_col).orderBy(
            F.desc(ts_col), F.desc(seq_col)
        )
        boundary = (
            allrows.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == 1)
            .select(user_col, type_col, ts_col, seq_col)
            .localCheckpoint(eager=True)
        )
        boundary.write.mode("overwrite").parquet(boundary_path)

    return _run_batches(events_stream, checkpoint_dir, timeout_s, process)


def finalize_streaming_transitions(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Row-normalize the folded transition counts — same output
    contract as ``analytics.event_transitions``."""
    import os

    from pyspark.sql import Window

    counts = spark.read.parquet(
        os.path.join(state_dir, "counts.parquet")
    )
    tot = Window.partitionBy("from_state")
    return (
        counts.withColumnRenamed("n", "n_trans")
        .select(
            "from_state",
            "to_state",
            "n_trans",
            F.expr("n_trans * 1000000").alias("_num"),
            F.sum("n_trans").over(tot).alias("_den"),
        )
        .select(
            "from_state",
            "to_state",
            "n_trans",
            F.expr("_num div _den").alias("prob_ppm"),
        )
        .orderBy("from_state", "to_state")
    )


# ---------------------------------------------------------------------
# Streaming CDC apply: the merge_upsert twin (round 6)
# ---------------------------------------------------------------------


def compact_cdc_batch(
    batch: DataFrame, key_col: str, order_col: str
) -> DataFrame:
    """Last-writer-wins compaction of a CDC micro-batch: one row per
    key — the row with the max ``order_col`` (ties broken by the full
    row struct so the winner is deterministic). ``max_by`` over a
    struct is a partial-aggregatable one-shuffle plan (no per-key sort
    window) — the robots_filter verdict shape."""
    others = [c for c in batch.columns if c != key_col]
    packed = batch.groupBy(key_col).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(F.col(order_col), *[F.col(c) for c in others]),
        ).alias("_row")
    )
    return packed.select(
        key_col, *[F.col(f"_row.{c}").alias(c) for c in others]
    )


def streaming_merge_ingest(
    cdc_stream: DataFrame,
    base: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    delete_col: str | None = None,
    order_col: str | None = None,
    timeout_s: int = 180,
):
    """Continuously apply a CDC stream to a base table with MERGE
    semantics: per micro-batch, last-writer-wins compaction (when
    ``order_col`` is given), then ``merge_upsert`` of the compacted
    delta into the parquet state, materialized eagerly before the
    swap (through :func:`_fold_state`).

    Unlike the sketch folds, the state here is the FULL table, so the
    per-batch cost is one base scan + rewrite — exactly what a
    copy-on-write lakehouse MERGE pays when every file is touched. At
    100 TB the same loop applies with file-level pruning bounding the
    rewrite set (filter the state on the delta's partition keys before
    the anti join); the delta side stays broadcast-small either way.
    Batches apply IN ORDER (availableNow + checkpoint serialize them),
    so the final state equals the sequential batch fold of the same
    deltas — the executable contract tests/test_streaming_oracle.py
    replays."""
    import os

    from magmapandas_spark.operators.maintenance import merge_upsert

    if not os.path.exists(state_path):
        base.write.mode("overwrite").parquet(state_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            # the ordering column is feed metadata (LSN/sequence), not
            # table payload: drop it after compaction so the state
            # schema stays the base schema
            compact_cdc_batch(batch_df, key_col, order_col).drop(
                order_col
            )
            if order_col
            else batch_df
        )
        _fold_state(
            delta,
            state_path,
            lambda state, d: merge_upsert(
                state, d, key_col, delete_col=delete_col
            ),
        )

    return _run_batches(cdc_stream, checkpoint_dir, timeout_s, process)


# ---------------------------------------------------------------------
# Streaming EWMA — the stateful twin of operators/robust.ewma_smooth
# ---------------------------------------------------------------------


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA via ``applyInPandasWithState``.

    State is the user's most-recent 15 values (newest first). Each
    arriving row replays the batch operator's EXACT left-associated
    weight tree (operators/robust._ewma_expr) in Python floats — same
    literals, same order, same COALESCE-zero terms — so every streamed
    ``ewma`` double is BIT-EQUAL to the batch window's, not just
    approximately right (the streaming-twin discipline of this
    module). In-order ingest per user is the contract, as for the
    transitions fold: micro-batch boundaries may split a user's
    series anywhere, but files must replay in event-time order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from magmapandas_spark.operators.robust import (
        _EWMA_LAGS,
        _ewma_weights,
    )

    ws = _ewma_weights()
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("recent", T.ArrayType(T.DoubleType()))]
    )

    def update(key, pdfs, state: GroupState):
        recent = list(state.get[0]) if state.exists else []
        eids, vals, ews = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for x, eid in zip(pdf["value"], pdf["event_id"]):
                x = float(x)
                win = [x] + recent
                num = 0.0
                den = 0.0
                for j in range(_EWMA_LAGS):
                    if j < len(win):
                        num = num + win[j] * ws[j]
                        den = den + ws[j]
                    else:
                        # replay COALESCE(l_j, 0e0) * w and the CASE
                        # NULL -> 0e0 branch exactly (exact no-ops)
                        num = num + 0.0 * ws[j]
                        den = den + 0.0
                eids.append(int(eid))
                vals.append(x)
                ews.append(num / den)
                recent = ([x] + recent)[: _EWMA_LAGS - 1]
        state.update((recent,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(eids),
                "event_id": eids,
                "value": vals,
                "ewma": ews,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# Streaming CUSUM — incremental hourly counts, windowed finalize
# ---------------------------------------------------------------------


def streaming_cusum_ingest(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    timeout_s: int = 120,
):
    """Incremental state for CUSUM rate-shift detection: per
    micro-batch (group, hour, count) relations merge by elementwise
    integer sum — hourly counts are the mergeable sufficient statistic
    (the CUSUM windows themselves are a finalize-time pass over the
    |groups|·|hours| state, not per-event work). Same fold contract as
    the histogram/HLL/CMS ingests."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rel = batch_df.groupBy(
            F.col(group_col).alias("g"),
            F.date_trunc("hour", F.col(ts_col)).alias("h"),
        ).agg(F.count(F.lit(1)).alias("c"))
        _fold_state(
            rel,
            state_path,
            lambda a, b: a.unionByName(b)
            .groupBy("g", "h")
            .agg(F.sum("c").alias("c")),
        )

    return _run_batches(events_stream, checkpoint_dir, timeout_s, process)


def finalize_streaming_cusum(
    spark: SparkSession, state_path: str, alarm_mult: int = 10
) -> DataFrame:
    """Run the CUSUM windows over the merged hourly-count state;
    output is identical to the batch operator on the union of all
    micro-batches (oracle-checked in tests/test_streaming_oracle.py)."""
    from pyspark.sql import Window

    hourly = spark.read.parquet(state_path)
    tot = hourly.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_hours"), F.sum("c").alias("total")
    )
    y = hourly.join(F.broadcast(tot), "g").select(
        "g", "h", "total", F.expr("c * n_hours - total").alias("y")
    )
    w = Window.partitionBy("g").orderBy("h")
    p = y.select("g", "h", "total", F.sum("y").over(w).alias("psum"))
    s = p.select(
        "g",
        "h",
        "total",
        (F.col("psum") - F.least(F.min("psum").over(w), F.lit(0))).alias(
            "s"
        ),
    )
    return (
        s.groupBy("g", "total")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.max("s").alias("max_s"),
            F.sum(
                F.expr(
                    f"CASE WHEN s > {alarm_mult} * total THEN 1 ELSE 0 END"
                )
            ).alias("n_alarms"),
            F.min(
                F.expr(
                    f"CASE WHEN s > {alarm_mult} * total"
                    " THEN unix_micros(CAST(h AS TIMESTAMP)) END"
                )
            ).alias("first_alarm_us"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n_hours",
            "total",
            "max_s",
            "n_alarms",
            "first_alarm_us",
        )
        .orderBy("event_type")
    )


def streaming_seasonal_ingest(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """Incremental dow×hour seasonal-profile state: per micro-batch
    the ≤168-cell (dow, hour, n, Σvalue) relation folds into parquet
    state by elementwise sum — counts and DECIMAL-exact value sums
    are the profile's mergeable sufficient statistic; the seasonal
    index is a finalize-time ratio over the tiny state. Same fold
    contract as the histogram/HLL/CMS/CUSUM ingests; state schema is
    pinned (DECIMAL(38,6)) so repeated folds never re-widen."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        days = F.datediff(
            F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
        )
        rel = (
            batch_df.groupBy(
                ((days + 4) % 7).cast("int").alias("dow"),
                F.hour("ts").cast("int").alias("hour"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("decimal(38,6)")
                .alias("sv"),
            )
        )
        _fold_state(
            rel,
            state_path,
            lambda a, b: a.unionByName(b)
            .groupBy("dow", "hour")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sv").cast("decimal(38,6)").alias("sv"),
            ),
        )

    return _run_batches(events_stream, checkpoint_dir, timeout_s, process)


def finalize_streaming_seasonal(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Seasonal profile from the merged cell state — bit-equal to the
    batch ``q_seasonal_profile`` on the union of all micro-batches
    (the decimal cell sums are exactly the batch sums, so the double
    divisions run on identical operands)."""
    cells = spark.read.parquet(state_path)
    tot = cells.agg(F.sum("n").alias("gn"), F.sum("sv").alias("gsv"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n",
            F.round(F.col("sv").cast("double") / F.col("n"), 6).alias(
                "mean_value"
            ),
            F.round(
                (F.col("sv").cast("double") / F.col("n"))
                / (F.col("gsv").cast("double") / F.col("gn")),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("dow", "hour")
    )


def streaming_psi_ingest(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    mn: int,
    mx: int,
    timeout_s: int = 120,
):
    """Incremental drift-monitor state: per micro-batch the arriving
    snapshot-B documents bin into the BASELINE's 10 equi-width
    n_chars bins (edges are frozen baseline facts, passed in — drift
    is measured against A's geometry, never a moving target) and the
    10 integer counters fold by elementwise sum. PSI itself is a
    finalize-time formula over the tiny state."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if mx == mn:
            bin_c = F.lit(0)
        else:
            bin_c = F.least(
                F.expr(f"(n_chars - {mn}) * 10 div ({mx} - {mn})"),
                F.lit(9),
            )
        rel = (
            batch_df.groupBy(bin_c.cast("long").alias("bin"))
            .agg(F.count(F.lit(1)).alias("c_b"))
        )
        _fold_state(
            rel,
            state_path,
            lambda a, b: a.unionByName(b)
            .groupBy("bin")
            .agg(F.sum("c_b").alias("c_b")),
        )

    return _run_batches(docs_stream, checkpoint_dir, timeout_s, process)


def finalize_streaming_psi(
    spark: SparkSession, state_path: str, baseline: DataFrame
) -> DataFrame:
    """PSI report from the merged B-side bin state against the
    baseline's (bin, c_a) counts — identical formula (and identical
    doubles) to the batch ``q_psi_drift`` on the union of all
    micro-batches."""
    grid = spark.range(10).select(F.col("id").alias("bin"))
    cb_state = spark.read.parquet(state_path)
    j = (
        grid.join(F.broadcast(baseline), "bin", "left")
        .join(F.broadcast(cb_state), "bin", "left")
        .select(
            "bin",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    tot = j.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    p_a = (F.col("c_a") + F.lit(1.0)) / (F.col("n_a") + F.lit(10.0))
    p_b = (F.col("c_b") + F.lit(1.0)) / (F.col("n_b") + F.lit(10.0))
    term = F.round((p_a - p_b) * F.log(p_a / p_b), 9)
    scored = j.crossJoin(F.broadcast(tot)).select(
        "bin", "c_a", "c_b", term.alias("term9")
    )
    psi = scored.agg(
        F.sum(F.col("term9").cast("decimal(18,9)"))
        .cast("double")
        .alias("psi")
    )
    return (
        scored.crossJoin(F.broadcast(psi))
        .select(
            "bin",
            "c_a",
            "c_b",
            F.round("term9", 6).alias("term"),
            F.round("psi", 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


def streaming_fp_ingest(
    media_stream: DataFrame,
    index_table: str,
    accepted_path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """Streaming MEDIA ingestion with cross-batch fingerprint dedup
    against the persisted fp index — the multimodal twin of
    :func:`streaming_dedup_ingest`:

    per micro-batch (``foreachBatch``):
      1. decode + fingerprint the batch (one narrow Arrow stage) and
         probe the bucketed index: images whose fingerprint collides
         with an already-accepted one are dropped;
      2. within-batch self-dedup (keep the min media_id per
         fingerprint);
      3. append survivors' fingerprint rows to ``accepted_path`` and
         to the index, so batch N+1 dedups against everything batch N
         accepted.

    Same accept-set semantics and foreachBatch rationale as the LSH
    loop; the stored index side never re-shuffles (write_fp_index's
    bucketing, plan-tested in tests/test_lsh_index.py)."""
    from pyspark.sql import Window

    from magmapandas_spark.operators.png import png_fingerprints

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = png_fingerprints(batch_df).localCheckpoint(eager=True)
        idx = spark.table(index_table).select("fp").distinct()
        fresh = fps.join(idx, "fp", "anti")
        # within-batch: keep the min media_id per fingerprint
        w = Window.partitionBy("fp").orderBy("media_id")
        keep = (
            fresh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .localCheckpoint(eager=True)
        )
        keep.write.mode("append").parquet(accepted_path)
        # insertInto is POSITIONAL: restore the index table's column
        # order (the fp join key moved to the front)
        keep.select("media_id", "n_px", "hist", "fp").write.mode(
            "append"
        ).insertInto(index_table)

    return _run_batches(media_stream, checkpoint_dir, timeout_s, process)


def streaming_funnel_ingest(
    docs_stream: DataFrame,
    bench_words: list[int],
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
):
    """Streaming twin of the corpus-build funnel
    (operators/curation.py): per micro-batch (``foreachBatch``)

      1. stage flags in one projection — quality (>= 20 ws tokens),
         langid (marker tokens), the prefix-5 dedup hash, the eval
         (bench) slice flag;
      2. cross-batch keep-first dedup: within-batch min doc_id per
         hash, then an anti join against the persisted hash set (the
         streaming_fp_ingest discipline), survivors' hashes appended
         so batch N+1 dedups against everything accepted so far;
      3. Bloom decontamination against the FIXED packed benchmark
         filter (``bench_words`` from build_bloom_bits — the filter
         rides every batch plan as one array<bigint> literal, no
         bench-side recompute per batch);
      4. additive per-stage (docs, tokens) counters appended to
         ``{state_dir}/counters``.

    IDEMPOTENT under foreachBatch's at-least-once re-execution: hash
    rows carry their batch_id and the seen-set read EXCLUDES the
    current batch (a retry that already appended its hashes doesn't
    dedup against itself), and counter rows are batch_id-keyed with a
    dropDuplicates fold at finalize (a retried batch recomputes the
    identical row; double appends collapse).

    When batches arrive in doc_id order (first occurrence = min
    doc_id), the folded totals are BIT-EQUAL to the batch funnel —
    pinned by tests/test_streaming_oracle.py."""
    import os

    from pyspark.sql import Window

    from magmapandas_spark.operators.bloom import bloom_flag_docs_bitset

    hashes_path = f"{state_dir}/hashes"
    counters_path = f"{state_dir}/counters"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tokens = F.split(F.col("text"), " ")
        base = batch_df.select(
            "doc_id",
            "text",
            F.size(tokens).alias("ws"),
            (F.size(tokens) >= 20).alias("q"),
            (
                F.size(
                    F.filter(
                        tokens,
                        lambda x: x.isin("the", "a", "and", "of"),
                    )
                )
                >= 1
            ).alias("l"),
            F.md5(F.concat_ws(" ", F.slice(tokens, 1, 5))).alias("h"),
            (F.col("doc_id") % 11 == 0).alias("bench"),
        ).localCheckpoint(eager=True)
        surv = base.filter(F.col("q") & F.col("l"))
        w = Window.partitionBy("h").orderBy("doc_id")
        firsts = (
            surv.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.exists(hashes_path):
            seen = (
                spark.read.parquet(hashes_path)
                .filter(F.col("batch_id") != batch_id)
                .select("h")
            )
            kept = firsts.join(seen, "h", "anti")
        else:
            kept = firsts
        kept = kept.localCheckpoint(eager=True)
        kept.select(
            "h", F.lit(batch_id).alias("batch_id")
        ).write.mode("append").parquet(hashes_path)
        flagged = bloom_flag_docs_bitset(
            kept.filter(~F.col("bench")).select("doc_id", "text"),
            bench_words,
        ).select("doc_id", F.lit(True).alias("contaminated"))
        final = kept.join(F.broadcast(flagged), "doc_id", "left")
        row = base.agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("ws").alias("t1"),
            F.sum(F.when(F.col("q"), 1).otherwise(0)).alias("n2"),
            F.sum(F.when(F.col("q"), F.col("ws"))).alias("t2"),
            F.sum(
                F.when(F.col("q") & F.col("l"), 1).otherwise(0)
            ).alias("n3"),
            F.sum(F.when(F.col("q") & F.col("l"), F.col("ws"))).alias(
                "t3"
            ),
        ).crossJoin(
            final.agg(
                F.count(F.lit(1)).alias("n4"),
                F.coalesce(F.sum("ws"), F.lit(0)).alias("t4"),
                F.sum(
                    F.when(
                        ~F.col("bench")
                        & F.col("contaminated").isNull(),
                        1,
                    ).otherwise(0)
                ).alias("n5"),
                F.coalesce(
                    F.sum(
                        F.when(
                            ~F.col("bench")
                            & F.col("contaminated").isNull(),
                            F.col("ws"),
                        )
                    ),
                    F.lit(0),
                ).alias("t5"),
            )
        )
        row.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(counters_path)

    return _run_batches(docs_stream, checkpoint_dir, timeout_s, process)


def finalize_streaming_funnel(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Fold the per-batch counters into the funnel report — the same
    (stage, stage_name, n_docs, n_ws_tokens) rows the batch
    ``corpus_build_funnel`` emits."""
    c = spark.read.parquet(f"{state_dir}/counters").dropDuplicates(
        ["batch_id"]
    ).agg(
        *[
            F.sum(col).alias(col)
            for col in (
                "n1", "t1", "n2", "t2", "n3", "t3",
                "n4", "t4", "n5", "t5",
            )
        ]
    )
    return (
        c.selectExpr(
            "stack(5, 1, 'ingest', n1, t1, 2, 'quality', n2, t2,"
            " 3, 'langid', n3, t3, 4, 'dedup_prefix', n4, t4,"
            " 5, 'decontaminate', n5, t5)"
            " AS (stage, stage_name, n_docs, n_ws_tokens)"
        )
        .select(
            F.col("stage").cast("int"),
            "stage_name",
            F.col("n_docs").cast("long"),
            F.col("n_ws_tokens").cast("long"),
        )
        .orderBy("stage")
    )
