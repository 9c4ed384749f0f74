"""Deterministic generator for the benchmark's warehouse tables.

Writes the ten parquet tables the registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the same
schemas, value domains and distributions as the project's test data
(TESTDATA.md, FIXTURES.md): TPC-H-ish star schema (a third of the customers
never order and 2% of the parts are never sold, so anti-joins and EXCEPT
have rows), a 30-day `events` stream, a 30-word-vocabulary document corpus
with ~5% " dup" near-duplicates, and 64-dim unit embeddings clustered by
label.

The generator seed is fixed per table set, so the committed digest table
(`digests.tsv`) stays valid; the benchmark's `--seed` only orders work and
drives the harvest landing plan.

    python3 perfbench/gen_tables.py OUT_DIR
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
# Row counts of the project's sf0.01 test data (TESTDATA.md); `users` is the
# number of distinct `events.user_id` values.
ROWS = dict(supplier=100, customer=1_500, part=2_000, orders=15_000, lineitem=60_000,
            events=10_000, users=150, documents=500, embeddings=500)
# the harvest workload's landing source: a month of events at 10x that
HARVEST_EVENTS, HARVEST_ELEMENTS = 100_000, 1_500
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "small red hot old large blue cold new".split()
NOUN = "ring widget plate rod bolt gizmo gear anvil".split()


def _ts_us(days_from, days_to, n, rng):
    lo = np.datetime64(days_from, "D").astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(days_to, "D").astype("datetime64[us]").astype(np.int64)
    day = 86_400_000_000
    return (lo + rng.integers(0, (hi - lo) // day + 1, n) * day).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed=GEN_SEED):
    """Yield (name, pyarrow.Table) for every registry table."""
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = ROWS["supplier"], ROWS["customer"], ROWS["part"]
    n_ord, n_line, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    n_users, n_docs, n_emb = ROWS["users"], ROWS["documents"], ROWS["embeddings"]

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    ordering = np.flatnonzero(np.arange(n_cust) % 3 != 0).astype(np.int64)
    sold = np.flatnonzero(pk % 50 != 7)  # 2% of the parts are never sold
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        # as in TPC-H, a third of the customers never order
        "o_custkey": ordering[rng.integers(0, len(ordering), n_ord)],
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": sold[rng.integers(0, len(sold), n_line)].astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts_us("1995-01-02", "2001-11-04", n_line, rng)})
    yield "events", events(n_ev, n_users, rng)

    n_words = rng.integers(10, 100, n_docs)
    text = [" ".join(rng.choice(VOCAB, k)) for k in n_words]
    dups = np.flatnonzero(rng.random(n_docs) < 0.05)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        text[d] = text[rng.choice(originals)] + " dup"
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vec = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def events(n, n_users, rng):
    """`n` events over January 2024 (30 days), microsecond timestamps with
    exponential inter-arrival gaps, exponential values rounded to cents."""
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(1.0, n)
    offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (start + offs).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def write(out_dir):
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    rng = np.random.default_rng(GEN_SEED + 1)
    pq.write_table(events(HARVEST_EVENTS, HARVEST_ELEMENTS, rng),
                   os.path.join(tmp, "harvest_events.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1])
