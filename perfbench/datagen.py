"""Deterministic TPC-H-style input tables for the benchmark.

Writes the ten parquet tables the registry queries read (``region``
``nation`` ``customer`` ``supplier`` ``part`` ``orders`` ``lineitem``
``events`` ``documents`` ``embeddings``), with the schemas and value
ranges of the engine's test data. Values come from a fixed numpy PCG64
stream, so one ``(sf, data_seed)`` always yields the same tables and the
stored output hashes stay valid. The benchmark's ``--seed`` never reaches
this module: it only orders queries and splits stream files.

    python3 perfbench/datagen.py OUT_DIR [SF]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
PART_NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "nut", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]


def _days(rng, n: int, start: str, span: int) -> np.ndarray:
    return np.datetime64(start, "us") + (
        rng.integers(0, span, n) * 86_400_000_000
    ).astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, data_seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(data_seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 500, 500
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    })
    gaps = rng.integers(1, int(5_184_000_000_000 / max(n_ev, 1)), n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as web corpora carry
            base = texts[int(rng.integers(0, i))]
            texts.append(base[int(rng.integers(0, 4)):] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def write(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` atomically: a
    half-written directory is never left under the final name."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.005)
