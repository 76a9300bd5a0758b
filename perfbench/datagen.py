"""Seeded inputs for the benchmark workloads.

The query workloads read the two tables the dedup and search plans use,
``documents`` and ``embeddings``, written as parquet with the column
types of the repository's test tables (see FIXTURES.md). The same seed
always gives byte-identical tables.

- ``documents``: bag-of-words texts over the 30-word vocabulary of the
  test tables, 10-100 tokens each. 5% of the rows are near-duplicates
  of another row with the token ``dup`` inserted, so the MinHash/LSH
  stage finds pairs and connected components have more than one member.
- ``embeddings``: 64-dimensional unit vectors drawn around ten label
  centres, stored as ``float32`` lists.

The handler workload takes two aligned lists: item ids and per-item
seeds for the synthetic image stack (see ``etl.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.14, 0.15)
N_SOURCES = 20
DUP_FRACTION = 0.05
EMB_DIM = 64
N_LABELS = 10


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_dups = int(n * DUP_FRACTION)
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in range(n - n_dups)
    ]
    # Each duplicate copies a distinct original, so every seed gives the
    # same component structure: n_dups pairs, all else singletons.
    for k in rng.choice(len(texts), size=n_dups, replace=False):
        words = texts[k].split()
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts.append(" ".join(words))
    texts = [texts[i] for i in rng.permutation(n)]
    langs = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
    sources = rng.integers(0, N_SOURCES, size=n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{k}" for k in sources], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    x = 0.5 * centres[labels] + rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, n_vectors), os.path.join(out_dir, "embeddings.parquet"))


def handler_items(seed: int, n: int) -> tuple[list[int], list[int]]:
    """Two aligned iterables: item ids and the seed of each item's stack."""
    rng = np.random.default_rng(seed)
    return list(range(n)), [int(s) for s in rng.integers(0, 2**32, size=n)]
