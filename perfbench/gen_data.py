"""Deterministic synthetic tables for the benchmark.

Writes `lineitem` (read by `mixed_mor`), `documents` and `embeddings`
(read by the `analytics` rows) as one parquet file per table, with the
column names, types and value domains of the repository's test data (the
key domains of `lineitem` are those of the TPC-H-like tables it refers
to). The tables depend only on the scale factor and a fixed generator
seed, so every run of every workload sees the same base data; the
workload's `--seed` drives only the operations issued against it.

    python3 perfbench/gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pandas as pd

GEN_SEED = 42
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(sf):
    rng = np.random.default_rng(GEN_SEED)
    n_supp, n_part = int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_doc, n_emb = int(50000 * sf), max(200, int(20000 * sf))
    out = {}
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(rng, n_li, "1995-01-02", 2498)})
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 80)))
             for _ in range(n_doc)]
    # exact and near duplicates for the dedup operators
    for i in range(0, n_doc - 1, 97):
        texts[i + 1] = texts[i]
    for i in range(5, n_doc - 1, 89):
        texts[i + 1] = texts[i] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in np.arange(n_doc) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32)})
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, df in tables(sf).items():
        df.to_parquet(f"{tmp}/{name}.parquet", index=False)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
