"""Input tables of the `headline` workload, written inside the checkout.

The headline operators read `documents`, `embeddings` and `events`
parquet tables laid out like the harness test data at sf0.1: 5,000
documents over a ~30-word query vocabulary, 2,000 64-dim embeddings in
10 labelled clusters, 100,000 events of 1,500 users over 30 days.  The
content is fixed (it does not depend on the benchmark seed), so every
run measures the same work and the DuckDB oracle results can be cached.
`scale` shrinks every table for smoke tests.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 100 and rng.random() < 0.02:
            # near duplicate of an earlier doc: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=3):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS),
                                                    size=int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(0, 1, size=(10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng, n: int) -> pa.Table:
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def write_tables(out_dir: str, scale: float = 1.0) -> dict[str, str]:
    """Write the three tables; returns {table name: parquet path}."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, max(int(5000 * scale), 50)),
        "embeddings": _embeddings(rng, max(int(2000 * scale), 20)),
        "events": _events(rng, max(int(100_000 * scale), 1000)),
    }
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def input_sizes(paths: dict[str, str]) -> dict:
    docs = pq.read_table(paths["documents"], columns=["text"])["text"].to_pylist()
    return {
        "documents": len(docs),
        "text_bytes": sum(len(t.encode()) for t in docs),
        "embeddings": pq.ParquetFile(paths["embeddings"]).metadata.num_rows,
        "events": pq.ParquetFile(paths["events"]).metadata.num_rows,
    }
