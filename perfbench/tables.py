"""Checkout-local stand-ins for the sf-scaled test tables of the query pack.

The query-pack leaves read ``<sf_dir>/<table>.parquet``. The benchmark reads
nothing outside its checkout, so it renders the seven tables the headline
leaves use from a fixed seed, with the row counts, key ranges, value domains
and single-row-group layout of the sf0.1 set (``scale=0.1``). The data is a
pure function of (seed, scale); the benchmark always uses seed 42, so every
run of ``operator_pack`` sees the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark query table scan join agg group filter sort hash merge "
    "stream batch window row column key value vector part line order customer "
    "fast slow big small"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def render(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_events = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)
    n_lines = int(6_000_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_parts = int(200_000 * scale)
    n_supp = int(10_000 * scale)

    out: dict[str, pa.Table] = {}
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(_money(rng.exponential(50.0, n_events))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    lengths = rng.integers(10, 101, n_docs)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[w] for w in word_ids[pos:pos + n]))
        pos += n
    # 5% near-duplicates: another document's text plus a marker word
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })

    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng.uniform(900.0, 105000.0, n_lines))),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_lines) * _DAY_US),
    })

    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_orders) * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })

    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    return out


def write(directory: str, seed: int, scale: float) -> None:
    """Write every table as one single-row-group parquet file."""
    os.makedirs(directory, exist_ok=True)
    for name, table in render(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
