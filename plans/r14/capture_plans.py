#!/usr/bin/env python
"""Capture .explain('formatted') before/after plans for the queries
touched in optimization round 14.

"Before" plans are produced by running THIS script from a worktree of
the round-start commit (`37916ed`) with MODE=before; "after" plans
from the final tree with MODE=after. Each section notes what changed
and what to look for. Run from the repo root:

    MODE=after python plans/r14/capture_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MODE = os.environ.get("MODE", "after")
OUT = Path(os.environ.get("PLANS_OUT", Path(__file__).resolve().parent))


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write(name: str, text: str) -> None:
    (OUT / f"{name}_{MODE}.txt").write_text(text)
    print("wrote", f"{name}_{MODE}.txt", len(text), "bytes")


def main() -> None:
    from pyspark.sql import functions as F

    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name=f"r14-plan-capture-{MODE}")

    # ----- lsh_recall_eval: one documents scan feeds both legs -------
    # BEFORE: each leg's plan starts at its own `Scan parquet`
    # (documents.parquet) followed by its own round-robin fan_out
    # Exchange. AFTER: the (doc_id, text) slice is fanned out and
    # localCheckpoint-ed ONCE; both leg plans start at
    # `Scan ExistingRDD` — zero parquet scans, zero fan-out exchanges
    # inside the legs.
    from magmapandas_spark.operators.dedup import (
        fan_out,
        minhash_lsh_candidates,
    )
    from magmapandas_spark.operators.setjoin import setjoin_jaccard

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if MODE == "after":
        docs_in = fan_out(docs.select("doc_id", "text")).localCheckpoint(
            eager=True
        )
        hdr = (
            "# lsh_recall_eval AFTER — both legs consume the one\n"
            "# checkpointed (doc_id, text) relation: each leg plan\n"
            "# begins at Scan ExistingRDD; the single documents scan\n"
            "# + fan_out shuffle ran once in the checkpoint job.\n\n"
        )
    else:
        docs_in = docs
        hdr = (
            "# lsh_recall_eval BEFORE — each leg scans\n"
            "# documents.parquet itself and pays its own fan_out\n"
            "# round-robin Exchange (look for `Scan parquet` +\n"
            "# `Exchange RoundRobinPartitioning` in BOTH legs).\n\n"
        )
    # The legs' own eager checkpoints fire during construction, so the
    # final leg plans hide the upstream difference — capture the
    # SCAN-SIDE INPUT of each shingle pipeline too (the subtree each
    # leg executes from cold before its first internal checkpoint).
    from magmapandas_spark.operators.curation import word_tokens
    from magmapandas_spark.operators.dedup import shingle_df

    leg1_input = explain_str(
        fan_out(docs_in).select(
            "doc_id", word_tokens("text").alias("t")
        )
    )
    leg2_input = explain_str(shingle_df(docs_in, n=5))
    truth_plan = explain_str(
        setjoin_jaccard(docs_in).select(
            F.col("doc_a").alias("id1"), F.col("doc_b").alias("id2")
        )
    )
    cand_plan = explain_str(
        minhash_lsh_candidates(docs_in, hash_strategy="md5").select(
            "id1", "id2"
        )
    )
    write(
        "lsh_recall_eval",
        hdr
        + "== leg 1 scan-side input (word-token pipeline head) ==\n"
        + leg1_input
        + "\n== leg 2 scan-side input (char-5 shingle pipeline head) ==\n"
        + leg2_input
        + "\n== leg 1: setjoin_jaccard truth ==\n"
        + truth_plan
        + "\n== leg 2: minhash_lsh_candidates (md5) ==\n"
        + cand_plan,
    )

    # ----- hll_join_card: one fused register build -------------------
    # The register materialization itself: BEFORE two separate
    # relations (two sequential eager-localCheckpoint jobs, each its
    # own scan+aggregate); AFTER one union-with-side-tag relation
    # (ONE job, both scans inside). The final (consumer) plan is
    # reported too: scan counts unchanged at 8 from r13, but the
    # checkpoint job count halves (driver-synchronous latency).
    from magmapandas_spark.operators.sketches import (
        hll_register_relation,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").filter(
        F.col("c_custkey") % 2 == 0
    )
    ka = orders.select(F.col("o_custkey").alias("v")).filter(
        F.col("v").isNotNull()
    )
    kb = cust.select(F.col("c_custkey").alias("v")).filter(
        F.col("v").isNotNull()
    )
    if MODE == "after":
        tagged = ka.select(F.lit("a").alias("tag"), "v").unionByName(
            kb.select(F.lit("b").alias("tag"), "v")
        )
        reg_plan = explain_str(hll_register_relation(tagged, "tag", "v"))
        hdr = (
            "# hll_join_card AFTER — the ONE fused register-build\n"
            "# relation that is localCheckpoint-ed (both parquet scans\n"
            "# under a single Union + aggregate => one driver-\n"
            "# synchronous job instead of two sequential ones).\n\n"
        )
        write("hll_join_card_registers", hdr + reg_plan)
    else:
        side = F.lit("k").alias("side")
        ra_plan = explain_str(
            hll_register_relation(ka.select(side, "v"), "side", "v")
        )
        rb_plan = explain_str(
            hll_register_relation(kb.select(side, "v"), "side", "v")
        )
        hdr = (
            "# hll_join_card BEFORE — TWO separately materialized\n"
            "# register relations (two sequential eager-localCheckpoint\n"
            "# jobs; each plan below was one driver-synchronous job).\n\n"
        )
        write(
            "hll_join_card_registers",
            hdr
            + "== register build A (orders) ==\n"
            + ra_plan
            + "\n== register build B (customers) ==\n"
            + rb_plan,
        )
    from magmapandas_spark.operators.sketches import q_hll_join_card

    write(
        "hll_join_card",
        "# Final consumer plan (the gate query output). The register\n"
        "# inputs appear as Scan ExistingRDD either way; the change\n"
        "# is in how many jobs materialized them (see\n"
        "# hll_join_card_registers_*.txt).\n\n"
        + explain_str(q_hll_join_card(spark, SF_DIR)),
    )

    # ----- kcore: exponential lazy subtree -> per-round cuts ----------
    # BEFORE: round r's plan contains round r-1 TWICE (both semi-join
    # sides), so the sym (distinct+union) subtree appears 2+2·prev
    # times — 14 copies by round 3, plus 2 more in the degree report.
    # AFTER: sym and each round's survivor set are localCheckpoint-ed;
    # the final plan is one join pair over Scan ExistingRDD inputs.
    from magmapandas_spark.operators.graph import q_kcore

    write(
        "kcore",
        "# kcore — count the duplicated `Union`/`HashAggregate`\n"
        "# (distinct) subtrees in BEFORE vs the Scan ExistingRDD\n"
        "# inputs in AFTER.\n\n" + explain_str(q_kcore(spark, SF_DIR)),
    )

    # ----- label_propagation: same exponential shape as kcore --------
    # BEFORE: round r references labels_{r-1} twice, so the edge/label
    # subtree count grows 2^rounds. AFTER: edge cache + per-round
    # label state checkpointed; the final plan consumes ExistingRDD.
    from magmapandas_spark.operators.graph import q_label_propagation

    write(
        "label_propagation",
        "# label_propagation — count the duplicated Union/distinct\n"
        "# subtrees in BEFORE vs the Scan ExistingRDD inputs in\n"
        "# AFTER (gate rounds=2; the shape grows 2^rounds).\n\n"
        + explain_str(q_label_propagation(spark, SF_DIR)),
    )

    # ----- pagerank / personalized_pagerank: same final plan ---------
    # The r14 change is the lineage-cut CADENCE (checkpoint_interval=5
    # instead of every round): the computed recurrence and the
    # per-round plan are identical; what changes is 10 driver-side
    # analyze/optimize/plan passes -> 2. The measured breakdown is in
    # plans/r14/graph_loop_profile.txt; the final output plan below
    # ends at the checkpointed RDD either way.
    from magmapandas_spark.operators.graph import q_pagerank

    write(
        "pagerank",
        "# pagerank — final output plan (ends at the checkpointed\n"
        "# RDD in both modes; the change is how many lineage cuts —\n"
        "# and so driver planning passes — the loop pays: 10 -> 2.\n"
        "# See graph_loop_profile.txt for the measured breakdown.\n\n"
        + explain_str(q_pagerank(spark, SF_DIR)),
    )

    # ----- allison_saturation: kernel-internal change ----------------
    from magmapandas_spark.relational.geochem import q_allison_saturation

    plan = explain_str(q_allison_saturation(spark, SF_DIR))
    hdr = (
        "# allison_saturation — r14 change is INSIDE the pandas-UDF\n"
        "# kernel (models/allison.py): T-only MRK/Saxena prefixes, the\n"
        "# constant 4-kbar MRK branch, and the wt-only carbonate terms\n"
        "# hoisted out of the bisection loops (guide §4.2). Plan\n"
        "# construction is untouched, so before == after by\n"
        "# construction; bit-identity pinned by\n"
        "# tests/test_allison_prefix_hoist.py.\n\n"
    )
    write("allison_saturation", hdr + plan)

    spark.stop()


if __name__ == "__main__":
    main()
