"""Seeded input generator for the benchmark.

Writes the two tables the measured code paths read, with the same
schemas and value distributions as the engine's test tables:

- documents(doc_id, text, lang, source, n_chars): 10-99 words from a
  30-word vocabulary, about 5% tagged with trailing "dup" tokens;
- embeddings(vec_id, embedding FLOAT[64], label): unit vectors with a
  weak pull towards one of ten centres;
- orders(o_orderkey, o_custkey) and lineitem(l_orderkey, l_suppkey):
  the purchase graph's columns, at the test tables' sf0.01 sizes (1,500
  customers, 100 suppliers, 15,000 orders of 4 lines each).

The seed fixes every value; the sizes are fixed, so two seeds give two
instances of the same distribution at the same scale.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

SIZES = {
    "documents": 1500,
    "embeddings": 1500,
    "dim": 64,
    "orders": 15000,
    "lines_per_order": 4,
    "customers": 1500,
    "suppliers": 100,
}


def documents(rng, n):
    lens = rng.integers(10, 100, size=n)
    texts = []
    for i in range(n):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=lens[i])]
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim):
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    # weak label signal, as in the test tables: centres about 0.1 apart
    # after normalisation, points about 1.0 from their centre
    x = 0.07 * centres[labels] + rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def orders(rng, n, customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, customers + 1, size=n)),
    })


def lineitem(rng, n_orders, per_order, suppliers):
    return pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), per_order)),
        "l_suppkey": pa.array(rng.integers(1, suppliers + 1, size=n_orders * per_order)),
    })


def generate(out_dir, seed):
    """Write the tables under out_dir; return their row counts and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES
    tables = {
        "documents": documents(rng, s["documents"]),
        "embeddings": embeddings(rng, s["embeddings"], s["dim"]),
        "orders": orders(rng, s["orders"], s["customers"]),
        "lineitem": lineitem(rng, s["orders"], s["lines_per_order"], s["suppliers"]),
    }
    info = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        info[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return info
