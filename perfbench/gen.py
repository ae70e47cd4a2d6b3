"""Seeded input generator for the graft benchmark.

Every table is drawn from `numpy.random.default_rng(seed)` alone, so the
same seed gives byte-identical inputs. Schemas, key ranges and value
distributions follow the sf0.1 fixture the repo's gates are written
against (independent uniform columns, TPC-H-ish names), so each gate's
DuckDB oracle applies unchanged. run.py calls `generate`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# MakeSf1's hot boilerplate: a fixed 8-token prefix on doc_id % 10 < 3, so
# corpus-hot shingles make the containment screen's bucket caps bind
BOILER = " ".join(f"boilerplate{i}" for i in range(1, 9))
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def pick(rng, values, n):
    return np.asarray(values)[rng.integers(0, len(values), n)]


def relational(rng, out, scale):
    """The eight TPC-H-ish tables plus `events`, sized as sf0.1 x scale."""
    n_li, n_ord = int(600_000 * scale), int(150_000 * scale)
    n_cust, n_part = int(15_000 * scale), int(20_000 * scale)
    n_supp, n_evt = max(int(1_000 * scale), 10), int(100_000 * scale)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n_cust)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = "red new hot blue small large cold old".split()
    noun = "bolt anvil ring rod plate widget gear nut".split()
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, adj, n_part),
                                              pick(rng, noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li))
                         * DAY_US)})
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_evt)),
        "user_id": rng.integers(0, max(int(1500 * scale), 10), n_evt),
        "event_type": pick(rng, ["click", "error", "purchase", "signup",
                                 "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})


def base_docs(rng, n):
    """sf0.1-shaped documents: 10-100 tokens from a 30-word vocabulary;
    5% are near-duplicates (another doc plus a trailing `dup` token)."""
    lens = rng.integers(10, 101, n)
    flat = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[flat[e - k:e]]) for e, k in zip(ends, lens)]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return texts


def documents(rng, out, n):
    """sf0.1-shaped documents with MakeSf1's hot share: doc_id % 10 < 3
    carries the shared boilerplate prefix, so corpus-hot shingles exist."""
    texts = [f"{BOILER} {t}" if i % 10 < 3 else t
             for i, t in enumerate(base_docs(rng, n))]
    write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def bulk(rng, out, n):
    """ConnectorBench's six-column mixed schema (INT, DOUBLE, ~200 B
    binary, ~200 B text, JSON text, TIMESTAMP) with seeded values; the
    keys are a seeded permutation, so every row is distinct."""
    keys = rng.permutation(n).astype(np.int32)
    blob = rng.integers(0, 256, (n, 200), dtype=np.uint8)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), (n, 40))]
    write(out, "bulk", {
        "c_int": keys,
        "c_double": np.round(rng.uniform(-1000, 1000, n), 3),
        "c_bytes": pa.array([bytes(r) for r in blob], pa.binary()),
        "c_text": [" ".join(r)[:200] for r in words],
        "c_json": [f'{{"grp":{g},"w":"{w}"}}' for g, w in
                   zip(rng.integers(0, 50, n), words[:, 0])],
        "c_ts": ts(EPOCH_2024 + rng.integers(0, 365 * DAY_US, n))})


def generate(workload, seed, out, scale=1.0):
    """interactive_sql: the sf0.1 tables at 1/10 (60k lineitem rows) and
    500 documents; bulk_federation: 100k rows. `scale` multiplies both."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "interactive_sql":
        relational(rng, out, 0.1 * scale)
        documents(rng, out, int(500 * scale))
    elif workload == "bulk_federation":
        bulk(rng, out, int(100_000 * scale))
    else:
        raise ValueError(f"unknown workload {workload}")

