"""Deterministic lake for the lake workloads.

Writes the ten tables the engine's headline queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
`events`, `documents`, `embeddings`), one parquet file each.  The
generator reproduces the seed-42 TPC-H-ish lake the engine's tests use:
at scales 0.001, 0.01 and 0.1 every column of every table equals that
lake's, value for value (README.md, "The lake").  The benchmark makes it
itself so that it runs from a bare checkout with nothing outside it.

The lake depends only on ``scale`` and the fixed ``LAKE_SEED``; the
workload seed never reaches it (it orders the queries instead).  The
order of the draws below is part of the lake: moving one changes every
table after it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# category lists in draw order: index j of a draw picks entry j
VOCAB = ("the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast",
         "slow", "big", "small", "hash", "sort", "merge", "scan", "agg",
         "stream", "batch", "vector", "key", "value", "row", "column")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod",
             "ring")
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# English is three draws in seven
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EMBED_DIM = 64
MIN_DOCS = 500  # documents and embeddings never have fewer rows


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents of 10-99 tokens over a 30-word vocabulary.
    Then 5 % of them, drawn without replacement, become near-copies: the
    text of another document (as it stands at that point) plus a `dup`
    token, so the dedup operators have true pairs to find."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
             for k in (int(rng.integers(10, 100)) for _ in range(n))]
    copies = rng.choice(n, n // 20, replace=False)
    for dst, src in zip(copies, rng.integers(0, n, n // 20)):
        texts[dst] = texts[src] + " dup"
    lang = rng.integers(0, len(LANGS), n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in lang]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)  # in float32
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vecs.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (0.1 → 600,000 lineitem rows)."""
    rng = np.random.default_rng(LAKE_SEED)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = max(int(6_000_000 * scale), 2_000)
    n_ev = max(int(1_000_000 * scale), 1_000)
    n_users = max(int(15_000 * scale), 1)
    n_doc = max(int(50_000 * scale), MIN_DOCS)
    n_vec = max(int(20_000 * scale), MIN_DOCS)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    # instants drawn in seconds, truncated to ns, then to us
    start_ns = np.datetime64("2024-01-01T00:00:00", "ns")
    offs = np.sort((rng.uniform(0, 30 * 86_400, n_ev) * 1e9).astype(np.int64))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array((start_ns + offs.astype("timedelta64[ns]"))
                       .astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def ensure_lake(cache_dir: str, scale: float) -> str:
    """Return the lake directory for ``scale``, generating it once.

    The lake is written to a temporary sibling and renamed into place,
    so an interrupted generation never leaves a half-written lake.  The
    directory name carries a hash of this file, so a changed generator
    never reuses a lake (or the oracle results kept beside it) made by
    an earlier one."""
    with open(__file__, "rb") as f:
        gen = hashlib.sha1(f.read()).hexdigest()[:8]
    lake = os.path.join(cache_dir, f"lake-s{scale:g}-seed{LAKE_SEED}-{gen}")
    if os.path.isdir(lake):
        return lake
    tmp = f"{lake}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, lake)
    except OSError:  # another run finished the same lake first
        shutil.rmtree(tmp, ignore_errors=True)
    return lake
