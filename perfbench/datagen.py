"""Seeded generator for the corpus tables the ``corpus_ops`` lines read.

The benchmark makes its own inputs, so a run depends only on ``--seed``.
The two tables have the schemas, row counts and shape of the engine's
sf0.1 test data, as measured on it:

- ``documents``: 5,000 rows. ``lang`` is en 41 %, de/es/fr/zh about
  15 % each, drawn independently of the text. Every language shares
  one 30-word vocabulary with uniform word frequencies: the English
  markers " and " and " of " never occur, " the " is about 3.3 % of the
  words in every language, and about 75 % of the documents in every
  language have a marker hit. A base text has 10-99 words. 250 near
  duplicates replace a document's text by another document's text plus
  " dup", the source drawn from the whole table, so near duplicates of
  near duplicates occur, and two near duplicates of one source are the
  table's exact duplicates (8 at sf0.1). ``source`` is
  ``src<doc_id % 20>``; ``n_chars`` is the text's length.
- ``embeddings``: 2,000 unit-norm 64-d float vectors (nearest-neighbour
  cosine around 0.41) with labels 0-9.

Each table is one parquet file with one row group, written with pyarrow.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5_000
N_VECTORS = 2_000
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
WORDS = (10, 99)  # words per base text, inclusive
N_SOURCES = 20
NEAR_DUPS = 250  # documents that repeat another one's text plus " dup"
EMBED_DIM = 64


def _documents(rng) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab),
                                    rng.integers(WORDS[0], WORDS[1] + 1))])
        for _ in range(N_DOCS)
    ]
    for doc in rng.choice(N_DOCS, NEAR_DUPS, replace=False):
        src = int(rng.integers(0, N_DOCS - 1))
        src += src >= doc  # any document but this one
        texts[doc] = texts[src] + " dup"
    ids = np.arange(N_DOCS, dtype=np.int64)
    langs = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), N_DOCS, p=LANG_WEIGHTS)]
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    vecs = rng.standard_normal((N_VECTORS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(
        np.arange(0, N_VECTORS * EMBED_DIM + 1, EMBED_DIM, np.int32))
    return pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, N_VECTORS), pa.int32()),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """Both tables for ``seed``; the same seed gives the same data."""
    rng = np.random.default_rng(seed)
    return {"documents": _documents(rng), "embeddings": _embeddings(rng)}


def write_tables(seed: int, dest: str) -> str:
    """Write every table as ``dest/<name>.parquet``; returns ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
