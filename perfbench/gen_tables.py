#!/usr/bin/env python3
"""Generate the pipeline_batch input tables from a seed.

Writes documents, embeddings, lineitem and events parquet files with the
schemas the census entries read: 1000 documents, 1000 unit vectors of
d=64, 150k line items and 50k events at scale 1.0. That is below the
sf0.1 row counts on purpose: the all-pairs dedup entries grow with the
square of the document count, and one pass over the twelve entries has
to fit a benchmark run. Document words follow a Zipf law over stopwords,
the census's query terms and ~3000 seeded synthetic words, and 5% of the
documents are planted near-duplicates of earlier ones. The same seed
gives byte-identical tables.

Usage: gen_tables.py <outdir> <seed> [scale]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = "the of and to a in that is with be have it for on as".split()
TERMS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row agg key query scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng, n_synthetic=3000):
    words = list(STOPWORDS) + list(TERMS)
    seen = set(words)
    while len(words) < len(STOPWORDS) + len(TERMS) + n_synthetic:
        w = "".join(LETTERS[rng.integers(0, 26, int(rng.integers(3, 11)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7)
    return np.array(words), p / p.sum()


def documents(rng, n):
    words, p = vocabulary(rng)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier text plus one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 61))
            texts.append(" ".join(rng.choice(words, k, p=p)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, d=64):
    v = rng.standard_normal((n, d))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def lineitem(rng, n):
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2499, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90068, 10499992, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def events(rng, n):
    t0 = np.datetime64(datetime.datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    types = np.array(["signup", "purchase", "view", "click", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(rng.integers(0, 56022, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, max(50, int(1000 * scale))),
        "embeddings": embeddings(rng, max(60, int(1000 * scale))),
        "lineitem": lineitem(rng, max(100, int(150000 * scale))),
        "events": events(rng, max(100, int(50000 * scale))),
    }
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")


if __name__ == "__main__":
    main()
