"""The analytics corpus: the ``documents`` text corpus and the 64-dim
``embeddings`` table, with the schema of the engine's scale-factor test
data, generated with numpy + pyarrow from a fixed seed.  These are the
only tables the analytics queries read.

The corpus is the same on every run, whatever ``--seed`` says, so each
query's expected result can be pinned in ``expected/analytics.json``.
Sizes, chosen to fit the benchmark's time budget on 4 vCPUs (2 task
slots, see common.task_slots):
- 500 documents of 8-89 tokens (the sf0.01 count and length profile).
  The dedup queries are bound by per-job driver work at any test scale:
  ten times the documents (sf0.1) adds only 25-50% to their warm time,
  but ~10 s to a run.  In a traced run they kept 0.18 of the 2 slots
  busy (2.6 s of executor CPU in 14.5 s).
- 500 vectors, a quarter of sf0.1's 2000.  The similarity self-join
  still keeps the executors busy: 1.1 of the 2 slots in a traced run
  (11.2 s of executor CPU in 10.3 s).  Its cost grows with the square of
  the vector count: ~2.2 s warm at 500 vectors, ~4 s at 1000 on 4 slots.

Planted structure, so the dedup and similarity queries have work to do:
every tenth document has an exact copy and another a near copy (one
token changed); every twenty-fifth vector has a near twin.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101

N_DOCS, N_VECS, DIM, N_LABELS = 500, 500, 64, 10

VOCAB = (
    "the a fast slow big small key value order sort table scan merge part "
    "window hash join group query data line row batch stream spark vector "
    "filter agg customer index shard cache plan cost node page tree"
).split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]


def _documents(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 10 == 3:
            texts.append(texts[i - 3])  # exact copy
        elif i % 10 == 7:
            toks = texts[i - 5].split()
            toks[rng.integers(0, len(toks))] = str(rng.choice(VOCAB))
            texts.append(" ".join(toks))  # near copy
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 90))))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(size=(N_LABELS, DIM))
    vecs = 0.3 * centers[labels] / np.sqrt(DIM) + rng.normal(size=(N_VECS, DIM)) / np.sqrt(DIM)
    for i in range(1, N_VECS, 25):
        vecs[i] = vecs[i - 1] + 0.05 * rng.normal(size=DIM) / np.sqrt(DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(out_dir: str) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    tables = {"documents": _documents(rng), "embeddings": _embeddings(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
