#!/usr/bin/env python
"""Scale probe: verify the headline plan shapes scale ~linearly in
input size and that no stage's *driver-side* memory grows with input.

Derives a ``SPARK_GRAFT_SCALE_X``× (default 10×) wider copy of the
sf0.1 lineitem + documents tables (key-offset copies; document text is
salted per copy so the dedup workload shape — not just the row count —
scales), then times the headline shapes at 1× and X×:

- ``melt_materialize``  — scan → projection → range sort → persist
  (the shared input every domain query starts from)
- ``thermometer_projection`` — 9-model expression projection (melt)
- ``saturation_solver`` — Arrow-vectorized bisection UDF tier (melt)
- ``minhash_pipeline``  — shingle explode → minhash agg → LSH band
  self-join (production xxhash64 path, documents)
- ``cc_distributed``    — large-star / small-star connected components
  with the driver fast path disabled (the loop that runs at 100 TB)
- ``pricing_aggregate`` — decimal-exact grouped aggregate (lineitem)

A shape passes when wall(X×)/wall(1×) ≤ X·(1+slack) — superlinear
growth means a shuffle/join/collect whose cost is not O(rows) — and
when driver max-RSS barely moves between the scales (bounded collects).
Results go to SCALE.md.

Usage:  python scale_probe.py           (X=10, sf0.1, local[32])
        SPARK_GRAFT_SCALE_X=4 python scale_probe.py
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import measure  # noqa: E402
from perfbench.layers import StatusReader  # noqa: E402

# env-overridable so two probes can't clobber each other's inputs
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    str(Path(__file__).resolve().parent / ".scale_scratch"),
)


def _maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def build_scaled_inputs(spark, sf_dir: str, x: int, out_dir: str) -> None:
    """X key-offset copies of lineitem + documents.

    Copies are made distinct (orderkey/doc_id offsets, per-copy text
    salt) so joins and dedup see a genuinely X×-wider key space, not X
    duplicates of the same keys — duplicated keys would understate
    shuffle width and overstate dedup candidate density."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ok_span = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    copies = []
    for c in range(x):
        copies.append(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(c * ok_span)
            )
        )
    scaled = copies[0]
    for df in copies[1:]:
        scaled = scaled.unionByName(df)
    # write with real parallelism so the probe's scans start wide (the
    # sf0.1 files are a single row group; production files would not be)
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    id_span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = []
    for c in range(x):
        copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * id_span))
            .withColumn(
                "text",
                F.concat(F.col("text"), F.lit(f" copysalt{c} salt{c}end")),
            )
        )
    scaled = copies[0]
    for df in copies[1:]:
        scaled = scaled.unionByName(df)
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    uid_span = ev.agg(F.max("user_id")).collect()[0][0] + 1
    eid_span = ev.agg(F.max("event_id")).collect()[0][0] + 1
    copies = []
    for c in range(x):
        # distinct users per copy so the user-keyed window shuffles see
        # an X-times-wider key space (offset duplicates of the same
        # users would deepen partitions instead of widening the key
        # space and overstate window cost)
        copies.append(
            ev.withColumn(
                "user_id", F.col("user_id") + F.lit(c * uid_span)
            ).withColumn(
                "event_id", F.col("event_id") + F.lit(c * eid_span)
            )
        )
    scaled = copies[0]
    for df in copies[1:]:
        scaled = scaled.unionByName(df)
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vid_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    copies = []
    for c in range(x):
        # per-copy perturbation of dim 0 so copies aren't exact
        # cosine-duplicates of each other (cosine is scale-invariant,
        # so a plain rescale would be a no-op workload-wise)
        copies.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(c * vid_span))
            .withColumn(
                "embedding",
                F.concat(
                    F.array(
                        F.get("embedding", 0) + F.lit(0.05 * c)
                    ),
                    F.slice("embedding", 2, 10_000),
                ),
            )
        )
    scaled = copies[0]
    for df in copies[1:]:
        scaled = scaled.unionByName(df)
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


# pricing runs BEFORE the dedup shapes: minhash/CC leave persisted and
# localCheckpointed blocks that contend with a following scan-heavy
# aggregate and contaminate its wall time
SHAPES = [
    "melt_materialize",
    "thermometer_projection",
    "saturation_solver",
    "pricing_aggregate",
    "bpe_encode",
    "bloom_decontaminate",
    "cms_sketch",
    "gram_aggregate",
    "pmi_aggregate",
    "scd2_windows",
    "copurchase_pairs",
    "ewma_windows",
    "bigram_lm_chain",
    "line_dedup_scaled",
    "kmeans_refine_full",
    "semdedup_guarded",
    "lsh_recall_sampled",
    "minhash_pipeline",
    "cc_distributed",
    "corr_power_sums",
    "knn_broadcast_scoring",
    "balanced_resample",
    "abc_sketch_only",
    "corpus_build_funnel",
    "keep_best_uniform",
    "keep_best_skewed",
]

#: shapes that read the shared synthetic-melt cache — the
#: adjudication pass must re-materialize the melt (untimed) before
#: re-sampling any of these
MODEL_SHAPES = {"thermometer_projection", "saturation_solver"}


#: guard bound for the probe's SemDeDup shape
_PROBE_MCR = 64


def _semdedup_guarded_shape(spark, sf_dir: str):
    import warnings

    from magmapandas_spark.operators.similarity import (
        ivf_fit_centroids,
        semdedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the codebook is fit ONCE on the base corpus and deliberately NOT
    # refit as the corpus scales — the exact fixed-codebook regime the
    # guard exists for (and the duckdb-side fit needs the single-file
    # base parquet anyway)
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cents = ivf_fit_centroids(base)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # overflow warning is expected
        out = semdedup(emb, cents, max_cell_rows=_PROBE_MCR)
    # side metric (cheap — out is already checkpointed): what the
    # guard saved. unguarded pair volume is Σ C(pop,2) over cells;
    # the guarded bound is ≤ pop·(mcr-1)/2 per cell — linear in pop.
    pops = out.groupBy("cell").count().collect()
    unguarded = sum(r["count"] * (r["count"] - 1) // 2 for r in pops)
    bound = sum(r["count"] * (_PROBE_MCR - 1) // 2 for r in pops)
    print(
        f"#   semdedup pair volume: unguarded Σ C(pop,2) = {unguarded}, "
        f"guarded bound Σ pop·(mcr-1)/2 = {bound}",
        file=sys.stderr,
    )
    return out.orderBy("vec_id")


def _line_dedup_shape(spark, sf_dir: str):
    """CCNet line-level dedup with page count proportional to the
    corpus: posexplode → line-count shuffle → count join → reassembly
    aggregation. 40 synthetic multi-line pages per corpus document so
    the 10× input drives 10× pages through every stage."""
    from magmapandas_spark.operators.webcorpus import (
        line_dedup,
        synthetic_lined_pages,
    )

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    return line_dedup(synthetic_lined_pages(spark, n=n_docs * 40))


def _kmeans_refine_shape(spark, sf_dir: str):
    """Two full-corpus Lloyd iterations at fixed k·d: per-iteration
    cost is the assignment scan + a k-row aggregation, so wall should
    track the corpus size linearly; driver state stays k·d floats.
    The init codebook is fit ONCE on the single-file base parquet
    (duckdb fit; also the honest regime — init quality is corpus-
    independent, refinement is what scales)."""
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.kmeans import lloyd_refine
    from magmapandas_spark.operators.similarity import (
        ivf_fit_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    init = ivf_fit_centroids(base)
    _, assigned = lloyd_refine(emb, init, iters=2)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d2").cast("double").alias("inertia"),
    )


def _lsh_recall_sampled_shape(spark, sf_dir: str):
    """Round-8 close: the recall-eval harness with its sample_pred —
    both the exact PPJoin ground truth and the LSH banding pipeline
    run on a CONSTANT document slice (base-corpus ids only; the
    scaled copies' offset ids fall outside it), so the suite's most
    expensive measurement stays |sample|-priced while the corpus
    scales X×. Expected ratio ≈ 1, well under the linear bound."""
    from pyspark.sql import functions as F

    from magmapandas_spark.operators.evaluation import lsh_recall_eval

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_recall_eval(
        spark, docs, sample_pred=F.col("doc_id") < 2000
    )


def _keep_best_shape(skewed: bool):
    """Round-13 shapes: the keep-best argmin collapse under uniform
    vs ZIPFIAN cluster sizes. The skewed variant puts ~half of ALL
    docs in one mega-cluster (the distribution where the pre-r12
    row_number window degenerates to a single-task sort); the r12
    max(struct) form partial-aggregates map-side, so one combined row
    per (partition, cluster) crosses the wire and the mega-cluster
    costs the same as the tail. Claim under test (r12 verdict item
    6): ratio_over_x(skewed) <= ratio_over_x(uniform)."""

    def shape(spark, sf_dir: str):
        from pyspark.sql import functions as F

        from magmapandas_spark.operators.dedup import (
            keep_best_per_cluster,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        h = F.abs(F.xxhash64(F.col("doc_id")))
        if skewed:
            cl = F.when(h % 2 == 0, F.lit(0)).otherwise(h % 100_000)
        else:
            cl = h % 100_000
        clusters = docs.select("doc_id", cl.alias("cluster_id"))
        return keep_best_per_cluster(clusters, docs)

    return shape


def _abc_sketch_only_shape(spark, sf_dir: str):
    from magmapandas_spark.operators.analytics import (
        abc_classification_sketch,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return abc_classification_sketch(li, with_exact=False)


def run_shapes(
    spark, sf_dir: str, only: list | None = None
) -> tuple[dict, dict]:
    """Samples (seconds) and the fastest sample's ``layers`` per
    shape."""
    from magmapandas_spark.relational import suite

    qs = suite.queries()
    shape_fns = {
        "thermometer_projection": qs["thermometers_multi2"],
        "saturation_solver": qs["volatile_saturation_im"],
        "minhash_pipeline": qs["minhash_lsh_xxhash"],
        "cc_distributed": qs["dedup_clusters_distributed"],
        "pricing_aggregate": qs["pricing_summary"],
        # round-5 shapes: the whole-stage-codegen replace/regex chain
        # (pure scan-local — the null hypothesis for linear scaling)
        # and the broadcast-semi-join Bloom probe whose corpus side
        # must never shuffle
        "bpe_encode": qs["bpe_tokens"],
        "bloom_decontaminate": qs["bloom_decontaminate"],
        # round-5 close: the count-min build - its counter table is
        # d*w rows regardless of input, so its wall should scale with
        # the token scan alone
        "cms_sketch": qs["cms_topk"],
        # round-6 close: SemDeDup with the cell-population guard. The
        # codebook stays FIXED (8 cells) while the corpus scales X× —
        # exactly the failure mode the guard exists for: without it,
        # within-cell pairs grow X², with it each sub-cell is bounded
        # at max_cell_rows so pair volume (and wall) grow ~linearly.
        # round-6 second wave: the Gram-matrix sufficient-statistics
        # aggregate (10 decimal-product sums, O(groups) state), the
        # two-pass tokenize/aggregate PMI chain (vocabulary fixed, so
        # broadcast size is scale-invariant), and the SCD2 lag/lead
        # window pair over one user-keyed exchange (the event-log
        # tier's representative: key space widens X times)
        "gram_aggregate": qs["ols_multi"],
        "pmi_aggregate": qs["token_pmi"],
        "scd2_windows": qs["scd2_build"],
        # round-7 shapes: the basket-bounded pair self-join (pair
        # volume ∝ orders because basket size is capped, so wall must
        # track the lineitem scan), the 16-lag EWMA window over an
        # X-times-wider user key space (one exchange, constant per-row
        # work), and the bigram-LM chain (scan-local bigram build +
        # two vocabulary-sized count joins — vocabulary is corpus-
        # capped, so join build sides stay ~fixed)
        "copurchase_pairs": qs["copurchase_lift"],
        "ewma_windows": qs["ewma_smooth"],
        "bigram_lm_chain": qs["bigram_lm"],
        "semdedup_guarded": _semdedup_guarded_shape,
        # round-6 close: the line-dedup shuffle chain and the
        # full-corpus Lloyd loop (fixed k·d, wall ∝ corpus)
        "line_dedup_scaled": _line_dedup_shape,
        "kmeans_refine_full": _kmeans_refine_shape,
        "lsh_recall_sampled": _lsh_recall_sampled_shape,
        # round-8 shapes: the k(k+3)/2-term power-sum correlation
        # aggregate (single scan, O(1) state — the gram_aggregate
        # family), the constant-broadcast-slice kNN scorer (|sample|*N
        # scored rows, so wall ∝ corpus, never N²), and the
        # class-balance two-aggregation resample (two corpus scans,
        # |classes|-row exchange)
        "corr_power_sums": qs["corr_matrix"],
        "knn_broadcast_scoring": qs["knn_label_noise"],
        "balanced_resample": qs["balanced_sample"],
        # round-9 shape: the ABC histogram sketch WITHOUT its exact
        # measurement twin — the production posture (one fact scan to
        # the part grain, 1-row extrema broadcast, <=1000-row
        # histogram + bounded cumulative window); wall must track the
        # scan while sketch state stays B counters
        "abc_sketch_only": _abc_sketch_only_shape,
        # round-9 shape: the five-stage corpus-build funnel — one
        # conditional-aggregate scan + a hash-partitioned keep-first
        # window + the Bloom broadcast-semi-join chain; the bench
        # (eval-set) side is corpus-INDEPENDENT, so wall must track
        # the documents scan
        "corpus_build_funnel": qs["corpus_build_funnel"],
        # round-13 shapes: keep-best argmin collapse, uniform vs
        # zipfian cluster sizes (see _keep_best_shape)
        "keep_best_uniform": _keep_best_shape(skewed=False),
        "keep_best_skewed": _keep_best_shape(skewed=True),
    }
    # Measurement protocol (round 10, same as bench.py): every shape
    # is timed SPARK_GRAFT_PROBE_SAMPLES (default 2) times
    # back-to-back through bench.measure; ALL samples are recorded and
    # the ratio check uses the per-shape MINIMUM, whose counters are
    # the shape's `layers`. r9's two single-sample probe passes
    # flagged disjoint shape sets on identical bytes — min-of-adjacent
    # samples is the cheapest estimator that shrugs off a one-sided
    # co-tenant burst.
    n_samples = max(
        1, int(os.environ.get("SPARK_GRAFT_PROBE_SAMPLES", "2"))
    )
    # melt materialization timed on its own so the model-tier shapes
    # measure their operators, not the shared cache build
    shape_fns["melt_materialize"] = (
        lambda spark, d: suite.synthetic_melt(spark, d).df
    )
    reader = StatusReader(spark)
    out: dict[str, list[float]] = {}
    layers: dict[str, dict] = {}
    todo = SHAPES if only is None else [n for n in SHAPES if n in only]
    for name in todo:
        runs = []
        for _ in range(n_samples):
            if name == "melt_materialize":
                # drop the (session, sf_dir) memo + persisted blocks
                # so every sample times a genuine rebuild, even when a
                # prior pass left the memo warm (the adjudication-pass
                # case); a no-op on a cold memo
                suite.reset_melt_cache(spark, sf_dir)
            dt, lay = measure(spark, reader, name, shape_fns[name], sf_dir,
                              plan=not runs, best=min(runs, default=math.inf))
            if lay is not None:
                layers.setdefault(name, {}).update(lay)
            runs.append(dt)
        out[name] = runs
        print(
            f"#   {name}: " + "/".join(f"{r:.2f}" for r in runs) + "s",
            file=sys.stderr,
        )
    return out, layers


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    x = int(os.environ.get("SPARK_GRAFT_SCALE_X", "10"))

    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name="magmapandas-scale-probe")
    # same worker-pool warmup as bench.py
    def _identity(it):
        yield from it

    spark.range(256).repartition(32).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()

    print(f"# building {x}x inputs under {SCRATCH}", file=sys.stderr)
    base_dir = f"{SCRATCH}/x1"
    big_dir = f"{SCRATCH}/x{x}"
    build_scaled_inputs(spark, sf_dir, 1, base_dir)
    build_scaled_inputs(spark, sf_dir, x, big_dir)

    results = {}
    load_before = os.getloadavg()
    for label, d in (("1x", base_dir), (f"{x}x", big_dir)):
        print(f"# running shapes at {label}", file=sys.stderr)
        spark.catalog.clearCache()  # drop the previous scale's persists
        rss0 = _maxrss_mb()
        samples, layers = run_shapes(spark, d)
        results[label] = {
            "samples": samples,
            "layers": layers,
            "times": {n: min(r) for n, r in samples.items()},
            "driver_maxrss_mb_before": round(rss0, 1),
            "driver_maxrss_mb_after": round(_maxrss_mb(), 1),
        }
    load_after = os.getloadavg()

    # Flagged-shape adjudication pass: adjacent samples share a burst
    # window, so a sustained co-tenant burst can slow BOTH samples of
    # one shape (r10: pricing_aggregate measured 40 s twice in-probe,
    # 2-5 s solo minutes later). Any shape whose min-of-samples still
    # breaks the linear bound gets one more sample per scale HERE —
    # temporally separated from the originals by the rest of the
    # probe — and the minimum wins. Bounded: only flagged shapes.
    flagged = [
        n for n in SHAPES
        if results["1x"]["times"][n] > 0
        and results[f"{x}x"]["times"][n] / results["1x"]["times"][n]
        > x * 1.3
    ]
    if flagged:
        for label, d in (("1x", base_dir), (f"{x}x", big_dir)):
            spark.catalog.clearCache()
            # clearCache drops the melt's persisted BLOCKS but not the
            # suite memo — a flagged model-tier shape would recompute
            # the unpersisted melt inline, inflating its extra sample
            # toward a false linear_ok failure. Reset the memo and
            # re-materialize UNTIMED so the samples below measure only
            # the shapes' own operators. (melt_materialize itself, if
            # flagged, resets again per-sample inside run_shapes.)
            from magmapandas_spark.relational import suite as _suite

            _suite.reset_melt_cache(spark, d)
            if any(n in MODEL_SHAPES for n in flagged):
                _suite.synthetic_melt(spark, d).df.write.format(
                    "noop"
                ).mode("overwrite").save()
            print(
                f"# re-adjudicating flagged shapes at {label}: {flagged}",
                file=sys.stderr,
            )
            extra, extra_layers = run_shapes(spark, d, only=flagged)
            for n, runs in extra.items():
                results[label]["samples"][n].extend(runs)
                if min(runs) < results[label]["times"][n]:
                    results[label]["times"][n] = min(runs)
                    results[label]["layers"][n] = extra_layers[n]

    rows = []
    for name in SHAPES:
        t1 = results["1x"]["times"][name]
        tx = results[f"{x}x"]["times"][name]
        ratio = tx / t1 if t1 > 0 else float("inf")
        rows.append(
            {
                "shape": name,
                "wall_1x_s": round(t1, 2),
                f"wall_{x}x_s": round(tx, 2),
                "samples_1x": [round(r, 2) for r in
                               results["1x"]["samples"][name]],
                f"samples_{x}x": [round(r, 2) for r in
                                  results[f"{x}x"]["samples"][name]],
                "layers_1x": results["1x"]["layers"][name],
                f"layers_{x}x": results[f"{x}x"]["layers"][name],
                "ratio": round(ratio, 2),
                "ratio_over_x": round(ratio / x, 2),
                "linear_ok": ratio <= x * 1.3,
            }
        )

    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "scale_x": x,
                "sf_dir": sf_dir,
                "protocol": "min-of-"
                + os.environ.get("SPARK_GRAFT_PROBE_SAMPLES", "2"),
                "load_before": [round(v, 2) for v in load_before],
                "load_after": [round(v, 2) for v in load_after],
                "shapes": rows,
                "driver_maxrss_mb": {
                    k: v["driver_maxrss_mb_after"] for k, v in results.items()
                },
            }
        )
    )
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
