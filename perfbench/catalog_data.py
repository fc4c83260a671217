"""Deterministic TPC-H-shaped tables for the catalog workload.

Same table names, columns and types as the engine's test tables (a small
star schema plus ``events``, ``documents`` and ``embeddings``), drawn
with numpy from a fixed generator seed and written with pyarrow. Row
counts scale with ``sf`` the way the test tables do (lineitem about
6M x sf). The documents plant near-duplicates and the embeddings planted
duplicate vectors, so the dedup and clustering entries have real work.

The tables never depend on the workload seed: the expected output
digests in ``expected_digests.json`` are computed over exactly these
tables. The workload seed sets the order the entries run in.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20261017
SF = 0.005
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "a the key agg row scan slow fast table value part hash line merge batch "
    "spark window sort data column join small big query filter stream order "
    "group vector customer"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "red", "cold", "hot", "large", "new", "old", "small"]
P_NOUN = ["anvil", "bolt", "gear", "rod", "spring", "valve", "wheel", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _text_docs(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: ~10% of words replaced
            words = list(docs[int(rng.integers(0, i))])
            for j in np.flatnonzero(rng.random(len(words)) < 0.1):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        docs.append(words)
    return [" ".join(w) for w in docs]


def tables(sf: float = SF, seed: int = GEN_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = n_vecs = 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": [P_TYPES[k] for k in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            EPOCH_1995_US + (order_day[l_order] + rng.integers(1, 122, n_li)) * DAY_US
        ),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events)),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _text_docs(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.05, (n_vecs, 64))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.05)
    dup = dup[dup > 0]
    vecs[dup] = vecs[rng.integers(0, dup)] + rng.normal(0.0, 1e-4, (len(dup), 64))
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(dest: str, sf: float = SF, seed: int = GEN_SEED) -> None:
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
