"""Deterministic fixture generator for the benchmark.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the schemas and value ranges the engine's queries
expect, so the benchmark needs no data outside its own checkout. Row
counts follow the TPC-H convention (lineitem = 6M x scale factor).

The tables are a pure function of (scale factor, data seed).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark table column row key value join group agg window "
    "order sort filter scan hash merge batch stream query line part "
    "customer vector small big fast slow"
).split()
P_ADJ = "small red blue hot cold old new large".split()
P_NOUN = "ring widget bolt gear gizmo rod plate anvil".split()
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _days(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = 5_000 if sf >= 0.1 else 500
    n_emb = 2_000 if sf >= 0.1 else 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(15, n_cust // 10), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup fixture
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return out


def write(sf_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``sf_dir`` and return it."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir
