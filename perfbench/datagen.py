"""Deterministic tables for the benchmark, in the engine's test schema.

The tables have the schema, row counts and value distributions of the
engine's sf0.1 test tables (TPC-H-ish star schema plus `events`,
`documents` and `embeddings`): every key, flag, date and amount is
uniform over the test tables' range, `events.value` is exponential,
documents are word soup over the same 30 words with one doc in twenty a
copy of another doc plus the marker word "dup", and embeddings are
isotropic unit vectors with labels independent of them. The tables with
10 000 rows or more are split into 8 files so scans run in parallel.
They come from a fixed data seed, so every run and every commit reads
the same bytes; a run's `--seed` only orders and samples operations.
"""
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT = "perfbench-data-v4"
DATA_SEED = 20261017
FILES = 8
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PTYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
# id offset of the append/ingest pool: disjoint from every base table id
POOL_BASE = 10_000_000


def days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return [values[j] for j in rng.integers(0, len(values), n)]


def documents(rng, n, base_id):
    text = [" ".join(pick(rng, VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    # near-duplicates: one doc in twenty becomes another doc plus " dup";
    # a copy of a copy carries the marker twice
    for i in rng.choice(n, n // 20, replace=False):
        text[i] = text[int(rng.integers(0, n))] + " dup"
    ids = np.arange(base_id, base_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(rng, n, base_id):
    v = rng.normal(0.0, 1.0, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(base_id, base_id + n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables():
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = 15_000, 1_000, 20_000
    n_ord, n_li, n_evt = 150_000, 600_000, 100_000
    n_doc, n_vec = 5_000, 2_000
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJ, n_part), pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    # line items draw their order, part, supplier and line number
    # independently, in no particular order, as the test tables do
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": days(rng, n_li, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1_500, n_evt), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]})
    t["documents"] = documents(rng, n_doc, 0)
    t["embeddings"] = embeddings(rng, n_vec, 0)
    # append/ingest pool for the index workload: same distributions,
    # ids disjoint from the base tables
    t["pool_documents"] = documents(rng, n_doc, POOL_BASE)
    t["pool_embeddings"] = embeddings(rng, n_vec, POOL_BASE)
    return t


def write(out):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    t0 = time.monotonic()
    for name, tbl in tables().items():
        path = os.path.join(out, f"{name}.parquet")
        if tbl.num_rows < 10_000:
            # one file, one row group: a scan of it cannot split
            pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
            continue
        os.makedirs(path)
        step = -(-tbl.num_rows // FILES)
        for i in range(FILES):
            part = tbl.slice(i * step, step)
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                           row_group_size=max(1, part.num_rows))
    with open(os.path.join(out, "_stamp.json"), "w") as f:
        json.dump({"format": FORMAT, "gen_s": time.monotonic() - t0}, f)
