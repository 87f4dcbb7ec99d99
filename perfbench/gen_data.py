"""Deterministic tables for the benchmark.

The tables mirror the schemas and value domains of the engine's fixture
tables (FIXTURES.md section B): a TPC-H-like star schema and an events
stream at sf0.01 row counts, a 500-document token corpus with 5% planted
near-duplicates, and 2,000 unit-norm 64-d embeddings (the sf0.1 count, so
the IVF index has more cells than a search probes). They are fixed
(generator seed 42); the benchmark's --seed only drives the per-run choices
made from them (see inputs.py).

    python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VERSION = "1"  # bump when the generated bytes change

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(days_from, days_span, rng, n):
    """Whole-day timestamps uniformly spread from a 1995-based day offset."""
    epoch = np.datetime64("1995-01-01T00:00:00", "us")
    off = rng.integers(0, days_span + 1, n).astype("timedelta64[D]")
    return epoch + np.timedelta64(days_from, "D") + off


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


SF = 0.01       # relational tables and events
N_DOCS = 500
N_VECS = 2000


def tables():
    rng = np.random.default_rng(GEN_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n_cust, n_supp, n_part, n_ord, n_li = (int(n * SF) for n in (
        150000, 10000, 200000, 1500000, 6000000))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(0, 2403, rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(1, 2498, rng, n_li)})

    n_ev = int(1000000 * SF)
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = N_DOCS
    lens = rng.integers(10, 100, n_doc)
    vocab = np.array(VOCAB)
    text = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% planted near-duplicates: a copy of another document plus one token.
    dups = rng.choice(n_doc, n_doc // 10, replace=False)
    for d, src in zip(dups[:n_doc // 20], dups[n_doc // 20:]):
        text[d] = text[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    n_vec, dim = N_VECS, 64
    v = rng.standard_normal((n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def main(out_dir):
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, f"{tmp}/{name}.parquet")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main(sys.argv[1])
