"""Seeded generator of the read-only analytics tables.

Writes one parquet file per table (`customer`, `orders`, `lineitem`,
`supplier`, `nation`, `region`, `part`, `events`, `documents`,
`embeddings`) with the column names and parquet types graft's
`Tables` loaders and the `SparkEntry.oracleSql` replays expect. The
same seed gives byte-identical files; another seed gives other data.

Value shapes follow the TPC-H-like test data the operators were built
against: 25 nations over 5 regions, five market segments, order dates
1995-2001, documents drawn from a small technical vocabulary with
planted near-duplicates, and unit-norm 64-d embeddings around ten
labelled centres with planted near-copies.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data query table row column key value hash join merge sort group "
         "order filter scan window batch stream spark agg part line customer vector "
         "fast slow big small").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DIM = 64


def _days(base, offsets):
    return pa.array([base + dt.timedelta(days=int(d)) for d in offsets], pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.07:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    lang_p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=lang_p)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n, DIM))
    for i in range(1, n):
        if rng.random() < 0.05:  # planted near-copy
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.02, size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def generate(out_dir, seed, scale=1.0):
    """Write every table for `seed` into `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xA11])
    n_cust = int(1500 * scale)
    n_ord = 10 * n_cust
    n_supp = max(25, int(100 * scale))
    n_part = int(2000 * scale)
    n_ev = int(10000 * scale)
    n_doc = int(500 * scale)
    n_emb = int(500 * scale)
    d1995 = dt.datetime(1995, 1, 1)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)], pa.string())})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    colours, nouns = ["red", "blue", "hot", "small", "green"], ["ring", "widget", "bolt", "gear", "gizmo"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{colours[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 5, n_part), rng.integers(0, 5, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array([["ECONOMY", "SMALL", "LARGE", "STANDARD"][j]
                            for j in rng.integers(0, 4, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2))})

    odays = rng.integers(0, 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([["F", "O", "P"][j] for j in rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(d1995, odays),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)], pa.string())})

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90000, 200000, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][j] for j in rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array([["F", "O"][j] for j in rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": _days(d1995, odays[l_order] + rng.integers(1, 122, n_li))})

    t0 = dt.datetime(2024, 1, 1)
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(u)) for u in ev_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(_money(rng, 0, 560, n_ev)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)], pa.string())})
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)

    for name, t in tables.items():
        _write(out_dir, name, t)
    return {name: t.num_rows for name, t in tables.items()}
