#!/usr/bin/env python3
"""Deterministic input generator for the benchmark.

Writes the engine's ten parquet tables (the TPC-H-like star schema, the
`events` stream table, `documents` and `embeddings`) with the same column
names, physical types and value shapes as the project's fixtures: uniform
keys, 30-word document vocabulary with ~5 % near-duplicate documents,
unit-norm 64-d float embeddings, and `events.ts` as a timezone-less
(TIMESTAMP_NTZ) microsecond timestamp sorted by `event_id`.

    python3 perfbench/gen.py tables <outDir> <sf>
    python3 perfbench/gen.py replay <tablesDir> <outDir> <seed> <files>

`tables` always uses the same data seed, so every benchmark seed measures
the same tables. `replay` cuts
`events`, sorted by (ts, event_id), into about `files` parquet files whose
cut points are jittered by `seed`; it keeps the table's own encoding.
"""
import os
import sys
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds` as a timezone-less array."""
    us = np.round(np.asarray(seconds) * 1e6).astype("int64")
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + start, type=pa.timestamp("us"))


def tables(sf, rng):
    n_cust = max(1, int(150000 * sf))
    n_supp = max(1, int(10000 * sf))
    n_part = max(1, int(200000 * sf))
    n_ord = max(1, int(1500000 * sf))
    n_line = max(1, int(6000000 * sf))
    n_ev = max(1, int(1000000 * sf))
    n_users = max(1, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    day = 86400.0
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUS[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": [PRIORITY[i] for i in rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2498, n_line) * day)})
    secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(
                0, len(VOCAB), int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return out


def write_tables(out_dir, sf):
    ts = tables(sf, np.random.default_rng(DATA_SEED))
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in ts.items():
        pq.write_table(t, f"{tmp}/{name}.parquet")
    os.rename(tmp, out_dir)


def write_replay(tables_dir, out_dir, seed, files):
    ev = pq.read_table(f"{tables_dir}/events.parquet")
    order = np.lexsort((ev["event_id"].to_numpy(),
                        ev["ts"].cast(pa.int64()).to_numpy()))
    ev = ev.take(pa.array(order))
    n = ev.num_rows
    rng = np.random.default_rng(seed)
    # even cuts, each moved by up to a quarter of a file, kept increasing
    step = n / files
    cuts = np.arange(1, files) * step
    cuts += rng.uniform(-0.25, 0.25, files - 1) * step
    bounds = [0] + sorted(int(c) for c in cuts) + [n]
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(ev.slice(lo, hi - lo), f"{tmp}/part-{i:05d}.parquet")
    os.rename(tmp, out_dir)


def main(argv):
    if argv[:1] == ["tables"]:
        write_tables(argv[1], float(argv[2]))
    elif argv[:1] == ["replay"]:
        write_replay(argv[1], argv[2], int(argv[3]), int(argv[4]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
