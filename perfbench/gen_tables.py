"""Seeded generator for the surface workload's input tables.

Writes the ten parquet tables that `SparkEntry.queries` and their DuckDB
oracles read, with the column names and parquet types of the fixed testdata
set the query surface was written against (TPC-H-like star schema, an
`events` stream, a `documents` corpus with planted near-duplicates, unit-norm
64-d `embeddings`). Row counts follow that set's scale rule, and the value
ranges, distinct counts, means and category shares match it closely:
`compare_tables.py` measures this column by column, and its output for
sf0.01 is kept in `ledger/tables-vs-testdata-sf0.01.txt`. Same (scale, seed)
gives byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
SEGMENTS = "MACHINERY AUTOMOBILE FURNITURE HOUSEHOLD BUILDING".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = "LARGE ECONOMY STANDARD PROMO SMALL MEDIUM".split()
EVENT_TYPES = "error view purchase signup click".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds` as an arrow timestamp[us]."""
    us = (np.asarray(seconds) * 1e6).astype(np.int64)
    return pa.array(int(base.timestamp() * 1e6) + us, pa.timestamp("us"))


def _days(base, days):
    return _ts(base, np.asarray(days, dtype=np.int64) * 86400)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(DOC_VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(DOC_VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5 % near-duplicates: another document's text plus a " dup" marker
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part = int(150_000 * scale), int(200_000 * scale)
    n_supp, n_ord = max(10, int(10_000 * scale)), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))
    epoch95, epoch24 = dt.datetime(1995, 1, 1), dt.datetime(2024, 1, 1)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(epoch95, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string())})
    flags = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags % 3], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[flags // 3], pa.string()),
        "l_shipdate": _days(epoch95, rng.integers(1, 2499, n_line))})
    span = 30 * 86400
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(epoch24, np.sort(rng.uniform(0, span, n_evt))),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * scale)), n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string())})
    _write(out_dir, "documents", _documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

