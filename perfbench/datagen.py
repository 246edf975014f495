"""Seeded benchmark inputs, written as parquet in the table layout the
engine's catalog reads (``customer``, ``nation``, ``documents``,
``embeddings``).

The same seed always writes the same bytes. The seed moves *which*
keys, names, words and vectors appear, not how much work they make:
house sizes are balanced, so every seed yields a graph of the same
shape and edge count per rule, and the corpus and vector sizes are
fixed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# custkeys are drawn from 1..KEY_SPREAD * n_persons, so customer names
# (and with them the fuzzy-match pairs) differ from seed to seed while
# their density stays the same
KEY_SPREAD = 3
VOCAB = 1500
EMB_DIM = 16


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _nation() -> pa.Table:
    keys = np.arange(N_NATIONS, dtype=np.int64)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % 5,
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.sort(rng.choice(KEY_SPREAD * n, size=n, replace=False) + 1)
    # balanced houses: every seed gets the same FRIEND_OF edge count
    nation = rng.permutation(np.arange(n) % N_NATIONS).astype(np.int64)
    return pa.table(
        {
            "c_custkey": keys.astype(np.int64),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": nation,
            "c_mktsegment": rng.choice(SEGMENTS, size=n),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n), 2),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """A corpus with exact and near duplicates: 10% of documents copy an
    earlier one verbatim and 20% copy one with a few words replaced."""
    words = [f"w{i}" for i in range(VOCAB)]
    # Zipf-like word frequencies, like natural text
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.10:
            texts.append(texts[rng.integers(i)])
            continue
        if i > 0 and r < 0.30:
            toks = texts[rng.integers(i)].split(" ")
            for j in rng.choice(len(toks), size=3, replace=False):
                toks[j] = words[rng.integers(VOCAB)]
            texts.append(" ".join(toks))
            continue
        length = int(rng.integers(30, 80))
        texts.append(" ".join(words[k] for k in rng.choice(VOCAB, size=length, p=p)))
    return pa.table(
        {"doc_id": np.arange(n, dtype=np.int64), "text": texts}
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 8, size=n).astype(np.int64)
    centers = rng.normal(size=(8, EMB_DIM))
    vecs = (centers[labels] + 0.5 * rng.normal(size=(n, EMB_DIM))).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "label": labels,
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }
    )


def generate(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write every input table for one run into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(_nation(), out_dir, "nation")
    _write(_customer(rng, sizes["persons"]), out_dir, "customer")
    _write(_documents(rng, sizes["documents"]), out_dir, "documents")
    _write(_embeddings(rng, sizes["embeddings"]), out_dir, "embeddings")
