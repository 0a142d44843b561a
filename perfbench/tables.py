"""Seeded generator for the board's input tables.

Writes `events`, `documents` and `embeddings` parquet files with the schemas
and value distributions of the engine's test data, at a size given by row
counts. The same seed and sizes give byte-identical files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join spark line small fast group customer batch "
         "sort value hash filter big data").split()
EVENT_TYPES = ["signup", "click", "purchase", "view", "error"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EPOCH_US = int(datetime.datetime(2024, 1, 1).timestamp()) * 1_000_000
MONTH_US = 30 * 24 * 3600 * 1_000_000


def events(rng, n, users):
    ts = EPOCH_US + np.sort(rng.choice(MONTH_US, size=n, replace=False))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:  # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_all(out_dir, seed, n_events, n_users, n_docs, n_vecs):
    """Write the three tables into `out_dir`; returns the table names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events(rng, n_events, n_users),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))
    return sorted(tables)
