"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the gate queries read (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as single-row-group parquet
files, with the same column names, types and value domains as the
project's test data. Row counts follow the scale factor: lineitem has
6,000,000 × sf rows (60k at sf0.01, 600k at sf0.1).

The tables depend only on the scale factor, never on the benchmark seed:
the seed drives the request stream, and the data is an input every
request shares. ``ensure_tables`` builds them once per checkout under a
cache directory and reuses them afterwards.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
P_ADJ = ["red", "small", "new", "hot", "large", "cold", "blue", "old"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = ("fast spark line small customer group value hash batch sort data big "
         "filter key agg scan slow table part a merge window order column "
         "join vector row the query stream").split()


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_from_1995: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.array(base + days_from_1995.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = _sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    adj = np.array(P_ADJ)[rng.integers(0, 8, npart)]
    noun = np.array(P_NOUN)[rng.integers(0, 8, npart)]
    retail = np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": retail})
    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * retail[partkey] * rng.uniform(0.98, 2.33, nl), 2)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng.integers(1, 2499, nl))})
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(span_us, ne, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(ne // 66, 1), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup operators
            # need real duplicate structure to do work)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    vec = rng.normal(0, 1, (nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


def ensure_tables(cache_root: str, sf: float) -> str:
    """Directory holding the parquet tables for ``sf``, built on first use.

    The directory is published with an atomic rename, so an interrupted
    build never leaves a half-written table set behind."""
    final = os.path.join(cache_root, f"sf{sf:g}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=cache_root)
    try:
        for name, table in build_tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                           row_group_size=max(table.num_rows, 1))
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):  # not a concurrent build that won
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
