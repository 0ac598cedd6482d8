"""Deterministic sf0.1-shaped tables for the benchmark.

The engine's tables are a TPC-H-style star schema, an `events` stream
table and two LLM-pipeline tables (`documents`, `embeddings`). This
module writes the same ten parquet files, with the same column names,
physical types and value distributions, from a fixed seed — so the
benchmark owns its inputs and never depends on data outside its
checkout.

    python3 perfbench/datagen.py <out_dir> [seed]
"""
import datetime as dt
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42

# sf0.1 row counts (documents/embeddings are fixed-size corpora)
ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the corpus vocabulary: ingest batches draw from the same words
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64


def _days(rng, n, start, end):
    span = (end - start).days
    days = pd.to_datetime(start) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")
    return days.astype("datetime64[us]")


def random_text(rng, n_words):
    return " ".join(rng.choice(VOCAB, n_words))


def documents(rng):
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        # 5% near-duplicates: an earlier document plus a marker word
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(random_text(rng, int(rng.integers(10, 101))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = ROWS["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = ROWS["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = ROWS["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = ROWS["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = ROWS["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    n = ROWS["events"]
    start = pd.Timestamp("2024-01-01")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (start + pd.to_timedelta(offs, unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = documents(rng)
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return out


def write(out_dir, seed=DATA_SEED):
    """Write every table to `<out_dir>/<name>.parquet` (atomic per dir)."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(f"{tmp}/{name}.parquet", index=False)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else DATA_SEED)
