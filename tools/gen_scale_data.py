"""Synthesize scale-factor data beyond the driver-shipped sf0.1, for the
SCALING.md sweep (VERDICT r5 #2: show the dedup/ANN candidate-count and
runtime curves hold at 10x).

The generator mirrors the measured statistics of the driver's
/root/testdata tables (probed 2026-08-14):

- documents: 30-word uniform vocabulary, doc length ~ U[10, 100] words,
  20 sources (src0..src19), langs {en: 41%, de/es/fr/zh: ~15% each},
  ~2% of docs are near-copies of an earlier doc (identical prefix, a few
  tail-token edits — the planted near-dup structure the LSH queries
  find), ~0.5% carry the rare 'dup' marker token.
- embeddings: 64-dim float32, unit-normalized gaussian, weak label
  structure (10 labels, centroid norm ~0.07).
- events: 10k rows and 150 users per 0.01 sf-unit (1M rows / 15k users
  at sf1.0), one month of timestamps, 5 uniform event types,
  value ~ U[0, 560], props {"k": int}.

Synthesized data is used ONLY for scaling measurements (timings and
candidate counts), never for correctness grading — the driver's own
parquet remains the oracle input.

Usage: python tools/gen_scale_data.py <out_dir> <sf>   # e.g. /tmp/scale/sf1.0 1.0
"""

from __future__ import annotations

import json
import sys

import numpy as np
import pandas as pd

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def gen_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.02:
            # near-copy of a random earlier doc: identical prefix, edits
            # in the tail (the planted LSH-findable structure)
            w = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 8))):
                w[int(rng.integers(max(len(w) - 12, 0), len(w)))] = VOCAB[int(rng.integers(0, 30))]
            texts.append(" ".join(w))
            continue
        ln = int(rng.integers(10, 101))
        w = [VOCAB[int(j)] for j in rng.integers(0, 30, size=ln)]
        if rng.random() < 0.005:
            w[int(rng.integers(0, ln))] = "dup"
        texts.append(" ".join(w))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{int(j)}" for j in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def gen_embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centroids = rng.normal(0, 0.07 / 8, size=(10, 64))  # centroid norm ~0.07
    x = rng.normal(0, 0.125, size=(n, 64)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": labels,
        }
    )


def gen_events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    base = pd.Timestamp("2024-01-01")
    ts = base + pd.to_timedelta(
        np.sort(rng.uniform(0, 30 * 86400, size=n)), unit="s"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], size=n),
            "value": np.round(rng.uniform(0, 560, size=n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
        }
    )


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "new", "old", "blue", "red", "small", "dark"]
P_NOUN = ["widget", "gizmo", "plate", "gear", "rod", "bolt", "ring", "cap"]


def gen_tpch(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """The TPC-H-ish relational tables, mirroring the driver tables'
    probed shapes (schemas, dtypes incl. the int32 keys, value ranges,
    1995-2001 date window, ~4 lineitems/order, 64 p_name combos) so the
    FULL suite — relational queries included — can run a timing row at
    sf1.0. Row counts follow the driver ratio (sf0.1 = 15k customers /
    150k orders / 600k lineitems)."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    ).to_parquet(f"{out_dir}/region.parquet")
    pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    ).to_parquet(f"{out_dir}/nation.parquet")
    pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, size=n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, size=n_cust),
        }
    ).to_parquet(f"{out_dir}/customer.parquet")
    pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, size=n_supp), 2),
        }
    ).to_parquet(f"{out_dir}/supplier.parquet")
    adj = rng.integers(0, len(P_ADJ), size=n_part)
    noun = rng.integers(0, len(P_NOUN), size=n_part)
    pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{int(x)}" for x in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(P_TYPES, size=n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    ).to_parquet(f"{out_dir}/part.parquet")
    base = pd.Timestamp("1995-01-01")
    odate_days = rng.integers(0, 2404, size=n_ord)  # to 2001-08-01
    pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord, p=[0.49, 0.49, 0.02]),
            "o_totalprice": np.round(rng.uniform(900, 450000, size=n_ord), 2),
            "o_orderdate": base + pd.to_timedelta(odate_days, unit="D"),
            "o_orderpriority": rng.choice(PRIORITIES, size=n_ord),
        }
    ).to_parquet(f"{out_dir}/orders.parquet", coerce_timestamps="us")
    # ~4 lineitems/order: per order draw 1..7 lines (mean ~4)
    n_lines = rng.integers(1, 8, size=n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(okey)
    ship = np.repeat(odate_days, n_lines) + rng.integers(1, 96, size=n_li)
    pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, size=n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["F", "O"], size=n_li),
            "l_shipdate": base + pd.to_timedelta(ship, unit="D"),
        }
    ).to_parquet(f"{out_dir}/lineitem.parquet", coerce_timestamps="us")


def main() -> None:
    # flags filtered out BEFORE positional unpacking (r14 advice:
    # `gen_scale_data.py --tpch out 1.0` crashed with float('--tpch')
    # instead of a usage error)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit("usage: gen_scale_data.py OUT_DIR SF [--tpch]")
    out_dir, sf = args[0], float(args[1])
    import os

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(20260814)
    # driver scaling: docs 5000 and embeddings 2000 at sf0.1
    gen_documents(rng, int(50000 * sf)).to_parquet(f"{out_dir}/documents.parquet")
    gen_embeddings(rng, int(20000 * sf)).to_parquet(f"{out_dir}/embeddings.parquet")
    gen_events(rng, int(1_000_000 * sf), int(15000 * sf)).to_parquet(f"{out_dir}/events.parquet")
    if "--tpch" in sys.argv:
        gen_tpch(rng, out_dir, sf)
        print(f"wrote the full 10-table set at sf={sf} to {out_dir}")
    else:
        print(f"wrote documents/embeddings/events at sf={sf} to {out_dir}")


if __name__ == "__main__":
    main()
