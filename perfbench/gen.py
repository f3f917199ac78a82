"""Seeded input generator.

Writes the ten tables the program reads from its ``sf_dir`` (a TPC-H-like
star schema, an ``events`` stream, ``documents`` and ``embeddings``) as
one parquet file each, with the column names and types the program
expects.  The same seed and sizes give byte-identical files: every value
comes from one ``numpy`` generator and the parquet writer is given fixed
options.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024_US = 1_704_067_200_000_000        # 2024-01-01T00:00:00Z in µs
DAY_US = 86_400_000_000
_DAY_1995_US = 788_918_400_000_000           # 1995-01-01T00:00:00Z in µs
_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small customer "
          "query big stream order group filter vector").split()
_LANGS = ("en", "en", "en", "en", "en", "de", "fr", "es", "zh")


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: float = 0.01,
             events: int | None = None) -> dict:
    """Write every table under ``out_dir``; return row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = events if events is not None else max(1000, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "green",
                    "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut",
                     "pipe", "valve"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE",
                       "STANDARD"])
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    odate = _DAY_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]})
    lk = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_DAY_1995_US
                          + rng.integers(0, 2500, n_line) * DAY_US)})
    tables["events"] = events_table(rng, n_ev)
    tables["documents"] = _documents(rng, n_doc)
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}


def events_table(rng, n: int) -> pa.Table:
    """The ``events`` stream: sequential ids, µs timestamps over 30 days in
    time order, five event types, 2-decimal values, a small JSON prop."""
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(150, n // 100), n),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": rng.integers(1, 49003, n) / 100.0,
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n)]})


def _documents(rng, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 80))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
