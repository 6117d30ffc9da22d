"""Streaming corpus ingestion with cross-batch LSH dedup: batch N+1
must drop near-dups of everything batch N accepted, and the final
accept set must equal the batch-mode reference computed over the same
docs in the same id order."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from magmapandas_spark.operators.dedup import (
    minhash_lsh_candidates,
    write_lsh_index,
)
from magmapandas_spark.streaming.streams import streaming_dedup_ingest

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="ingest_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_ingest_matches_batch_dedup(spark, workdir):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    # seed an EMPTY index with the right schema/bucketing
    write_lsh_index(docs.limit(0), "ingest_idx", hash_strategy="md5")
    try:
        # stream the docs in as files: two parquet files -> two batches
        src = f"{workdir}/src"
        docs.filter(F.col("doc_id") < 150).coalesce(1).write.parquet(
            f"{src}/b0"
        )
        docs.filter(F.col("doc_id") >= 150).coalesce(1).write.parquet(
            f"{src}/b1"
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        accepted_path = f"{workdir}/accepted"
        streaming_dedup_ingest(
            stream, "ingest_idx", accepted_path,
            f"{workdir}/ckpt", hash_strategy="md5",
        )
        got = set(
            r["doc_id"]
            for r in spark.read.parquet(accepted_path).collect()
        )

        # reference: replay the stream's documented rule driver-side.
        # Band signatures are per-doc, so the full-corpus candidate
        # pair list gives the collision relation for any subset.
        # Per batch: (1) drop docs colliding with any earlier-accepted
        # doc; (2) of the remainder, drop id2 of every remaining pair
        # (a doc is dropped iff it collides with a lower-id doc in its
        # own batch, whether or not that doc itself survives).
        pairs = [
            (r["id1"], r["id2"])
            for r in minhash_lsh_candidates(
                docs, hash_strategy="md5"
            ).collect()
        ]
        b0 = sorted(
            r["doc_id"] for r in docs.filter(
                F.col("doc_id") < 150).select("doc_id").collect()
        )
        b1 = sorted(
            r["doc_id"] for r in docs.filter(
                F.col("doc_id") >= 150).select("doc_id").collect()
        )
        accepted: set = set()
        for batch_ids in (b0, b1):
            batch = set(batch_ids)
            collide_old = {
                n for (a, b) in pairs
                for n, o in ((a, b), (b, a))
                if n in batch and o in accepted
            }
            fresh = batch - collide_old
            drop = {
                b for (a, b) in pairs if a in fresh and b in fresh
            }
            accepted |= fresh - drop
        assert got == accepted
        # sanity: something was actually dropped (planted near-dups)
        assert len(got) < len(b0) + len(b1)
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_idx")


def test_streaming_fp_ingest_dedups_across_batches(spark, tmp_path):
    """Cross-batch fingerprint dedup: a later batch's byte-duplicate
    of an earlier accepted image is dropped; within-batch dups keep
    the min media_id; fresh images always land."""
    import os

    from pyspark.sql import functions as F

    from magmapandas_spark.operators.png import (
        make_synthetic_png,
        synthetic_png_media,
        write_fp_index,
    )
    from magmapandas_spark.streaming.streams import streaming_fp_ingest

    import shutil

    spark.sql("DROP TABLE IF EXISTS fp_ingest_idx")
    shutil.rmtree("spark-warehouse/fp_ingest_idx", ignore_errors=True)
    write_fp_index(synthetic_png_media(spark, 10), "fp_ingest_idx")
    # batch 1: fresh 20 + dup of indexed 3; batch 2: dup of indexed 5,
    # dup of batch-1's 20, within-batch dup pair of fresh 21
    b1 = [(100, make_synthetic_png(20)), (101, make_synthetic_png(3))]
    b2 = [
        (200, make_synthetic_png(5)),
        (201, make_synthetic_png(20)),
        (202, make_synthetic_png(21)),
        (203, make_synthetic_png(21)),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "media_id long, payload binary"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b1")
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b2")
    # one file per trigger -> two micro-batches in filename order
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src + "/b*")
    accepted = str(tmp_path / "accepted")
    streaming_fp_ingest(
        stream, "fp_ingest_idx", accepted, str(tmp_path / "ckpt")
    )
    got = sorted(
        r.media_id
        for r in spark.read.parquet(accepted).collect()
    )
    # 100 (fresh), 202 (min of the within-batch dup pair); 101/200
    # collide with the index, 201 with batch 1's accepted 100, 203
    # with 202
    assert got == [100, 202], got


def _replay_accept_rule(pairs, batch_id_lists):
    """The ingest's documented accept rule, replayed driver-side:
    per batch, drop collisions with earlier-ACCEPTED docs, then drop
    id2 of every remaining within-batch pair."""
    accepted: set = set()
    for batch_ids in batch_id_lists:
        batch = set(batch_ids)
        collide_old = {
            n for (a, b) in pairs
            for n, o in ((a, b), (b, a))
            if n in batch and o in accepted
        }
        fresh = batch - collide_old
        drop = {b for (a, b) in pairs if a in fresh and b in fresh}
        accepted |= fresh - drop
    return accepted


def test_streaming_ingest_recovery_across_crash(spark, workdir):
    """Crash-recovery drill for the production dedup-ingest loop (the
    third of the streaming drills): kill the query at the TOP of
    batch 1 (before any side effect — the recoverable failure point),
    restart from the SAME checkpoint, and require (a) the final
    accept set equals the no-crash documented-rule replay over all
    three batches, (b) no doc was accepted twice (batch 0 not
    replayed), (c) the index holds exactly one band-set per accepted
    doc — state and sink agree after recovery."""
    from magmapandas_spark.operators.dedup import band_table

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    write_lsh_index(docs.limit(0), "ingest_crash_idx", hash_strategy="md5")
    try:
        src = f"{workdir}/src"
        bounds = [(0, 100), (100, 200), (200, 300)]
        for i, (lo, hi) in enumerate(bounds):
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.parquet(f"{src}/b{i}")

        def stream():
            return (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*")
            )

        accepted_path = f"{workdir}/accepted"
        ckpt = f"{workdir}/ckpt"

        def crash_on_1(batch_id):
            if batch_id >= 1:
                raise RuntimeError("injected crash on batch 1")

        # run 1: batch 0 commits, batch 1 dies before any side effect
        with pytest.raises(Exception, match="injected crash"):
            streaming_dedup_ingest(
                stream(), "ingest_crash_idx", accepted_path, ckpt,
                hash_strategy="md5", fail_injector=crash_on_1,
            )
        after_crash = spark.read.parquet(accepted_path).count()
        assert after_crash > 0  # batch 0 landed

        # run 2: same checkpoint, no injector — drains batches 1-2
        streaming_dedup_ingest(
            stream(), "ingest_crash_idx", accepted_path, ckpt,
            hash_strategy="md5",
        )

        got_rows = spark.read.parquet(accepted_path).collect()
        got_ids = [r["doc_id"] for r in got_rows]
        # (b) exactly-once: batch 0 not replayed, batch 1 ran once
        assert len(got_ids) == len(set(got_ids))

        # (a) final accept set == no-crash reference
        pairs = [
            (r["id1"], r["id2"])
            for r in minhash_lsh_candidates(
                docs, hash_strategy="md5"
            ).collect()
        ]
        batch_id_lists = [
            [r["doc_id"] for r in docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("doc_id").collect()]
            for lo, hi in bounds
        ]
        assert set(got_ids) == _replay_accept_rule(pairs, batch_id_lists)

        # (c) index/sink agreement: one band-set per accepted doc
        n_bands_per_doc = band_table(
            docs.limit(1), hash_strategy="md5"
        ).count()
        idx_rows = spark.table("ingest_crash_idx").count()
        assert idx_rows == n_bands_per_doc * len(got_ids)
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_crash_idx")


def test_timed_out_ingest_stops_and_raises(spark, workdir):
    """A stream still running at ``timeout_s`` is stopped and raises
    TimeoutError, instead of returning a live query whose state the
    caller could read while the query still writes it."""
    import time

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    write_lsh_index(docs.limit(0), "ingest_timeout_idx", hash_strategy="md5")
    try:
        docs.coalesce(1).write.parquet(f"{workdir}/src/b0")
        stream = spark.readStream.schema(docs.schema).parquet(
            f"{workdir}/src/*"
        )

        def stall(batch_id):
            time.sleep(5)
            # the stalled batch never reaches its side effects
            raise RuntimeError("stalled batch")

        before = {q.id for q in spark.streams.active}
        with pytest.raises(TimeoutError, match="did not finish within 1 s"):
            streaming_dedup_ingest(
                stream, "ingest_timeout_idx", f"{workdir}/accepted",
                f"{workdir}/ckpt", hash_strategy="md5", timeout_s=1,
                fail_injector=stall,
            )
        assert {q.id for q in spark.streams.active} == before
    finally:
        spark.sql("DROP TABLE IF EXISTS ingest_timeout_idx")


def test_funnel_ingest_raises_on_unreadable_hash_state(spark, tmp_path):
    """A seen-hash state that exists but cannot be read (here: it has
    no batch_id column) fails the stream instead of silently skipping
    cross-batch dedup."""
    from magmapandas_spark.operators.bloom import build_bloom_bits
    from magmapandas_spark.streaming.streams import streaming_funnel_ingest

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 50)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(f"{src}/b0")
    state = str(tmp_path / "state")
    spark.createDataFrame([("x",)], "h string").write.parquet(
        f"{state}/hashes"
    )
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        f"{src}/*"
    )
    with pytest.raises(Exception, match="batch_id"):
        streaming_funnel_ingest(
            stream, build_bloom_bits(docs.filter(F.col("doc_id") % 11 == 0)),
            state, str(tmp_path / "ckpt"),
        )


def test_streams_have_one_runner_and_one_fold():
    """Tripwire: every ingest in streams.py starts, guards and awaits
    its micro-batches through the one runner, and persists folded
    state through the one read-merge-overwrite fold."""
    import ast

    from magmapandas_spark.streaming import streams

    with open(streams.__file__) as fh:
        tree = ast.parse(fh.read())
    calls = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]

    def named(attr):
        return [c for c in calls if c.func.attr == attr]

    def consts(call):
        return [a.value if isinstance(a, ast.Constant) else None
                for a in call.args]

    assert len(named("foreachBatch")) == 1
    assert len(named("awaitTermination")) == 1
    assert len([c for c in named("head") if consts(c) == [1]]) == 1
    overwrites = sorted(
        ast.unparse(c.func.value.func.value)
        for c in named("parquet")
        if isinstance(c.func.value, ast.Call)
        and isinstance(c.func.value.func, ast.Attribute)
        and c.func.value.func.attr == "mode"
        and consts(c.func.value) == ["overwrite"]
    )
    # one fold write; the transitions ``boundary`` snapshot and the
    # merge ingest's initial ``base`` write are the two non-fold writes
    assert overwrites == ["base.write", "boundary.write", "merged.write"]
