"""Seeded `documents` and `embeddings` tables for the catalog workload.

Same schema and shape as the catalog's test tables: documents drawn from a
31-word vocabulary with planted near-duplicates (a copy with " dup"
appended), and 64-dimensional unit embeddings around ten labelled centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "row the query stream value hash batch sort data big filter key agg scan "
    "slow table part a merge window order column join vector fast spark line "
    "small customer group"
).split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
N_SOURCES = 20
DIM = 64
N_LABELS = 10


def write_catalog_inputs(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` to ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(20, 80))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centres = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
