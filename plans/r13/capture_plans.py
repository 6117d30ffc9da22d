#!/usr/bin/env python
"""Capture .explain('formatted') before/after plans for the queries
touched in optimization round 13.

"Before" plans are generated from the SAME tree via the unchanged
code paths where the r13 edit provably does not alter plan
construction (the volatiles edit is inside a pandas-UDF kernel; the
lsh_recall_eval edit changes driver-side action ORDERING only; the
er_golden edit is reproduced exactly by `checkpoint=False`, the sole
code path that existed at r12 HEAD) — each file says which case it
is. Run from the repo root:  python plans/r13/capture_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = Path(__file__).resolve().parent


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write(name: str, text: str) -> None:
    (OUT / name).write_text(text)
    print("wrote", name, len(text), "bytes")


def main() -> None:
    from pyspark.sql import functions as F

    from magmapandas_spark.session import get_spark

    spark = get_spark(app_name="r13-plan-capture")

    # ----- volatile_saturation_im: kernel-internal change ------------
    from magmapandas_spark.relational.geochem import (
        q_volatile_saturation_im,
    )

    plan = explain_str(q_volatile_saturation_im(spark, SF_DIR))
    hdr = (
        "# volatile_saturation_im — r13 change is INSIDE the\n"
        "# ArrowEvalPython kernel (P-independent prefix hoisted out of\n"
        "# the bisection loop, models/volatiles.py); plan construction\n"
        "# is untouched, so before == after by construction. The\n"
        "# ArrowEvalPython node below is the solver stage either way.\n"
    )
    write("volatile_saturation_im_before.txt", hdr + plan)
    write("volatile_saturation_im_after.txt", hdr + plan)

    # ----- lsh_recall_eval: action-ordering change -------------------
    from magmapandas_spark.operators.dedup import minhash_lsh_candidates
    from magmapandas_spark.operators.setjoin import setjoin_jaccard

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    truth_plan = explain_str(
        setjoin_jaccard(docs).select(
            F.col("doc_a").alias("id1"), F.col("doc_b").alias("id2")
        )
    )
    cand_plan = explain_str(
        minhash_lsh_candidates(docs, hash_strategy="md5").select(
            "id1", "id2"
        )
    )
    hdr = (
        "# lsh_recall_eval — the r13 change submits the two\n"
        "# localCheckpoint actions below from a 2-thread driver pool\n"
        "# (guide §2.6) instead of sequentially; BOTH pipeline plans\n"
        "# are byte-identical before/after (no operator change), so\n"
        "# each file carries the same two plans. Pipeline 1 = exact\n"
        "# set-similarity truth, pipeline 2 = MinHash-LSH candidates.\n\n"
    )
    body = (
        "== pipeline 1: setjoin_jaccard truth ==\n" + truth_plan
        + "\n== pipeline 2: minhash_lsh_candidates (md5) ==\n"
        + cand_plan
    )
    write("lsh_recall_eval_before.txt", hdr + body)
    write("lsh_recall_eval_after.txt", hdr + body)

    # ----- er_golden_multipass: real plan change ---------------------
    from magmapandas_spark.operators.fuzzy import multipass_snm_pairs

    parts = spark.read.parquet(f"{SF_DIR}/part.parquet")
    names = parts.select(F.col("p_name").alias("nm"))
    _, multi_before = multipass_snm_pairs(names, checkpoint=False)
    hdr_b = (
        "# er_golden_multipass — BEFORE (r12 shape, reproduced by\n"
        "# checkpoint=False, the only code path that existed at r12):\n"
        "# the `multi` union re-executes the ENTIRE pass-1 SNM window\n"
        "# + levenshtein verify and re-derives the distinct name\n"
        "# dictionary as separate subtrees (look for TWO\n"
        "# Window/SortMergeJoin chains below, one per pass, plus\n"
        "# repeated HashAggregate(distinct nm) scans).\n\n"
    )
    write(
        "er_golden_multipass_before.txt",
        hdr_b + explain_str(multi_before),
    )
    _, multi_after = multipass_snm_pairs(names, checkpoint=True)
    hdr_a = (
        "# er_golden_multipass — AFTER: the name dictionary and the\n"
        "# pass-1 pair set are eagerly localCheckpoint-ed; `multi`'s\n"
        "# plan now unions a `Scan ExistingRDD` (the materialized\n"
        "# pass-1 pairs) with ONE pass-2 window chain over the\n"
        "# materialized dictionary — the pass-1 subtree is gone.\n"
        "# Additionally the truth pipeline runs on a second driver\n"
        "# thread (guide §2.6; no plan change on its side).\n\n"
    )
    write(
        "er_golden_multipass_after.txt",
        hdr_a + explain_str(multi_after),
    )

    spark.stop()


if __name__ == "__main__":
    main()
