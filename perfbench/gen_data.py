"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables graft's keys read (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`) with the column names,
physical types and value domains of the project's test data: one row
group per file, snappy, microsecond timestamps without a time zone.
The same (scale, seed) always gives the same bytes of data.

    python3 perfbench/gen_data.py OUT_DIR SCALE [SEED]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data join hash row batch scan column customer filter small slow merge "
         "order vector line table agg value key stream window spark part group big sort "
         "query fast").split()
PART_ADJ = "blue old small new hot large cold red".split()
PART_NOUN = "widget gizmo bolt plate anvil rod ring gear".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def _micros(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(scale, seed):
    """Yields (name, pyarrow.Table) for every table at `scale` (0.01 = the
    sf0.01 sizes: 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    k = scale / 0.001
    n_cust, n_supp, n_part = int(150 * k), int(10 * k), int(200 * k)
    n_ord, n_line, n_evt = int(1500 * k), int(6000 * k), int(1000 * k)
    n_users = max(1, int(15 * k))
    n_docs = 500 if scale <= 0.01 else int(50_000 * scale)
    n_vec = 500 if scale <= 0.01 else int(20_000 * scale)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    order_day0 = _micros("1995-01-01")
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(order_day0 + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(order_day0 + US_PER_DAY + rng.integers(0, 2499, n_line) * US_PER_DAY)})
    yield "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_micros("2024-01-01") + np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)]})

    # Documents: random word strings; 5% are near-duplicates of another
    # document (its text, sometimes one word shorter, plus " dup").
    texts = [" ".join(_pick(rng, WORDS, int(n))) for n in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        words = texts[int(rng.integers(0, n_docs))].split()
        texts[i] = " ".join(words[: len(words) - int(rng.integers(0, 2))] + ["dup"])
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # Embeddings: unit vectors loosely clustered around ten label centres.
    labels = rng.integers(0, 10, n_vec, dtype=np.int32)
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = 0.14 * centres[labels] + rng.normal(scale=1 / np.sqrt(EMBED_DIM), size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})


def generate(out_dir, scale, seed=42):
    """Writes every table under `out_dir` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows), compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
