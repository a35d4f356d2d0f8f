"""Seeded generator for the query_mix tables.

Writes the ten tables the registered queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each) with the column names and physical types `graft.Tables` declares. The
distributions follow the TPC-H-like test tables the engine is developed
against; the sizes are set by `SIZES`. The same seed writes byte-identical
files.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "events": 10000, "documents": 1000, "embeddings": 1000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000     # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z


def _i32(a):
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def _i64(a):
    return pa.array(np.asarray(a, dtype=np.int64), pa.int64())


def _f64(a):
    return pa.array(np.round(np.asarray(a, dtype=np.float64), 2), pa.float64())


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _str(a):
    return pa.array([str(x) for x in a], pa.string())


def tables(seed: int) -> dict:
    """Every table as a pyarrow Table, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({"r_regionkey": _i32(range(5)), "r_name": _str(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": _i32(range(25)),
        "n_name": _str(f"NATION_{i}" for i in range(25)),
        "n_regionkey": _i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": _i64(range(n["customer"])),
        "c_name": _str(f"Customer#{i:09d}" for i in range(n["customer"])),
        "c_nationkey": _i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": _f64(rng.uniform(-999.99, 9999.99, n["customer"])),
        "c_mktsegment": _str(rng.choice(SEGMENTS, n["customer"]))})
    out["supplier"] = pa.table({
        "s_suppkey": _i64(range(n["supplier"])),
        "s_name": _str(f"Supplier#{i:09d}" for i in range(n["supplier"])),
        "s_nationkey": _i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _f64(rng.uniform(-999.99, 9999.99, n["supplier"]))})
    retail = np.round(900 + rng.integers(0, 1000, n["part"]) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": _i64(range(n["part"])),
        "p_name": _str(f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                                   rng.choice(PART_NOUN, n["part"]))),
        "p_brand": _str(f"Brand#{b}" for b in rng.integers(1, 26, n["part"])),
        "p_type": _str(rng.choice(PART_TYPES, n["part"])),
        "p_size": _i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": _f64(retail)})

    no = n["orders"]
    odate = EPOCH_1995_US + rng.integers(0, 2404, no) * DAY_US  # 1995-01 .. 2001-08
    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(l_order)
    l_part = rng.integers(0, n["part"], nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * retail[l_part] * rng.uniform(0.5, 3.5, nl), 2)
    ship = odate[l_order] + rng.integers(1, 122, nl) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": _i64(range(no)),
        "o_custkey": _i64(rng.integers(0, n["customer"], no)),
        "o_orderstatus": _str(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _f64(np.bincount(l_order, weights=price, minlength=no)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _str(rng.choice(PRIORITIES, no))})
    out["lineitem"] = pa.table({
        "l_orderkey": _i64(l_order),
        "l_partkey": _i64(l_part),
        "l_suppkey": _i64(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": _i32(l_num),
        "l_quantity": _f64(qty),
        "l_extendedprice": _f64(price),
        "l_discount": _f64(rng.integers(0, 11, nl) / 100.0),
        "l_tax": _f64(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _str(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": _str(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(ship)})

    ne = n["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": _i64(range(ne)),
        "ts": _ts(ts),
        "user_id": _i64(rng.integers(0, 150, ne)),
        "event_type": _str(rng.choice(EVENT_TYPES, ne)),
        "value": _f64(np.maximum(0.01, rng.exponential(50.0, ne))),
        "props": _str(f'{{"k": {k}}}' for k in rng.integers(0, 100, ne))})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": _i64(range(nd)),
        "text": _str(texts),
        "lang": _str(rng.choice(LANGS, nd)),
        "source": _str(f"src{s}" for s in rng.integers(0, 20, nd)),
        "n_chars": _i64([len(t) for t in texts])})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": _i64(range(nv)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _i32(labels)})
    return out


def write(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
