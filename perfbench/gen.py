"""Seeded generator for the benchmark's input lake.

Writes the ten tables graft reads (one parquet file each, the layout
`graft.Tables` expects) at a chosen scale factor. Sizes depend only on
the scale factor, so every seed gives the same row counts and nearly the
same bytes; the seed picks the values. Column types and value domains
follow the TPC-H-like schema graft's oracle and specs are written for:

- entity keys are dense from 0; lineitem draws its foreign keys
  uniformly from the parent key ranges;
- order and ship dates span 1995-01-01 .. 2001-11-04 as naive
  microsecond timestamps; events span January 2024;
- 5% of the documents are near-duplicates (another document's text with
  one extra token), so the dedup family has pairs to find;
- embeddings are 64-d unit vectors with a label in 0..9.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "small red blue hot cold old new large".split()
NOUN = "ring widget bolt gear gizmo anvil plate rod".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * _US


def _days(rng, n, lo, hi):
    """n midnight timestamps drawn uniformly from the day range [lo, hi]."""
    days = rng.integers(0, (hi - lo) // _DAY_US + 1, n)
    return pa.array(lo + days * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def sizes(sf):
    """Row counts per table at scale factor `sf`."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build(sf, seed):
    """The ten tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": _ids(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": _ids(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = pa.table({
        "p_partkey": _ids(np_),
        "p_name": names[rng.integers(0, len(names), np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": _ids(no),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4))})
    ne = n["events"]
    start, span = _epoch_us(2024, 1, 1), 30 * _DAY_US
    ts = np.sort(rng.choice(span, ne, replace=False)) + start
    t["events"] = pa.table({
        "event_id": _ids(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, nc // 10), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(np.minimum(rng.exponential(30.0, ne), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, nd)]
    # near-duplicates: a twentieth of the documents copy another one's
    # text and append a marker token
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": _ids(nd),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=[.44, .14, .14, .14, .14])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _ids(nv),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def deltas(orders, batches, updates, inserts, seed):
    """Keyed change batches for `orders`: each updates `updates` existing
    keys (new status, price and priority) and inserts `inserts` new ones.
    The seed picks which keys each batch updates and the new values.
    """
    rng = np.random.default_rng([seed, 1])
    n = orders.num_rows
    cust = orders.column("o_custkey").to_numpy()
    dates = orders.column("o_orderdate").cast(pa.int64()).to_numpy()
    out = []
    for b in range(batches):
        upd = rng.choice(n, updates, replace=False)
        new = n + b * inserts + np.arange(inserts)
        k = len(upd) + inserts
        out.append(pa.table({
            "o_orderkey": pa.array(np.concatenate([upd, new]), pa.int64()),
            "o_custkey": pa.array(np.concatenate(
                [cust[upd], rng.choice(cust, inserts)]), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, k, 1000.0, 500000.0),
            "o_orderdate": pa.array(np.concatenate(
                [dates[upd], rng.choice(dates, inserts)]), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]}))
    return out


def write(out_dir, sf, seed, batches=0, updates=0, inserts=0):
    """Write the lake under `out_dir` (and `batches` delta files under
    `out_dir/deltas`); returns {table: (rows, bytes)}.
    """
    os.makedirs(out_dir, exist_ok=True)
    tables = build(sf, seed)
    if batches:
        for i, t in enumerate(deltas(tables["orders"], batches, updates, inserts, seed)):
            tables[f"deltas/batch_{i:03d}"] = t
        os.makedirs(os.path.join(out_dir, "deltas"), exist_ok=True)
    stats = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        stats[name] = (table.num_rows, os.path.getsize(path))
    return stats
