"""Generates the benchmark's input tables: a TPC-H-shaped star schema plus
the `events`, `documents` and `embeddings` tables the queries read.

The tables are the engine's test corpus (TESTDATA.md): the same ten tables,
drawn in the same order from one numpy generator with the same seed, and
written the same way (pandas frames, one row group, microsecond
timestamps). With numpy 1.26, pandas 2.2 and pyarrow 16, `--seed 42` writes
files byte-identical to the corpus's tables at sf 0.1, 0.01 and 0.001.

    python3 perfbench/gendata.py <out_dir> [--sf 0.1] [--seed 42]
"""
import argparse
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base, offsets):
    return (np.datetime64(base, "s") + offsets * np.timedelta64(1, "D")).astype("datetime64[s]")


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)
    n_docs, n_vecs, dim = (5000, 2000, 64) if sf >= 0.1 else (500, 500, 64)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li))})
    # sorted event times: event_id order is event-time order
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    nanos = (secs * 1e9).astype(np.int64).astype("timedelta64[ns]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "ns") + nanos,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n_docs)]
    # ~5% near-duplicates: an existing text plus one marker token
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, df in tables(a.sf, a.seed).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(a.out, f"{name}.parquet"),
                       coerce_timestamps="us", allow_truncated_timestamps=True)


if __name__ == "__main__":
    main()
