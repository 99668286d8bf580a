"""Deterministic input generation for the benchmark.

``base(cache, sf)`` writes the ten synthetic tables the query registry
reads (TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``), with the column names, types and value domains of the
repository's test data, at scale factor ``sf``. They are drawn from a
FIXED seed, so the expected fingerprints and row counts in
``expected.json`` hold for every benchmark seed; the benchmark seed
only orders the work.

Tables are written with pyarrow (no Spark) under the cache directory
and reused while the generator version and scale match.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "1"
BASE_SEED = 42

_WORDS = ("a agg batch big column customer data dup fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
_ADJ = "large hot blue old cold red small new".split()
_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
_SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "click error purchase signup view".split()
_LANGS = ["en", "zh", "es", "fr", "de"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_supp = max(int(10_000 * sf), 10)
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 50)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES)[
            rng.integers(0, 5, n_ord)]})
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is a key.
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)
                          * _DAY_US)})
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(_WORDS)
    words = [vocab[rng.integers(0, len(vocab), n)]
             for n in rng.integers(10, 101, n_docs)]
    # One document in five near-duplicates an earlier one (about one
    # word in twenty replaced), so the dedup and clustering ops find
    # pairs and clusters to verify.
    for i in np.flatnonzero(rng.random(n_docs) < 0.2):
        if i == 0:
            continue
        w = words[rng.integers(0, i)].copy()
        hit = rng.random(len(w)) < 0.05
        w[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
        words[i] = w
    texts = [" ".join(w) for w in words]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(
            5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def base(cache: str, sf: float) -> str:
    """Directory of the fixed-seed base tables at scale ``sf``, written
    unless a complete copy from this generator version is there."""
    dest = os.path.join(cache, f"base_sf{sf}")
    key = {"gen": GEN_VERSION, "sf": sf}
    stamp = os.path.join(dest, "_inputs.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("key") == key:
                return dest
    shutil.rmtree(dest, ignore_errors=True)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {}
    for name, tbl in _base_tables(sf).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        tables[name] = {"rows": tbl.num_rows,
                        "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "_inputs.json"), "w") as f:
        json.dump({"key": key, "tables": tables}, f, indent=1,
                  sort_keys=True)
    os.rename(tmp, dest)
    return dest


def sizes(path: str) -> dict:
    with open(os.path.join(path, "_inputs.json")) as f:
        return json.load(f)["tables"]

