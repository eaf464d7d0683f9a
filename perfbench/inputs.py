"""Seeded input generation.

The tables the workloads read are generated here from the run's seed,
with the column names, types and value domains of the package's
``documents`` and ``part`` test tables. Nothing is downloaded or read
from outside the checkout; the program only ever sees the directory
this module writes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
N_PARTS = 20_000


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """``documents``: 10-100 words each over a 31-word vocabulary, about
    1% near-duplicates (a copy of the previous document with one word
    changed), language and source labels."""
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(words[idx[pos : pos + n]]))
        pos += n
    for i in np.flatnonzero(rng.random(n_docs) < 0.01):
        if i > 0:
            toks = texts[i - 1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def part_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``part``: names, brands, types, sizes and prices on a 0.1 grid,
    so the agent's top-k-by-price read has ties to break."""
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(900 + rng.integers(0, 1000, n) / 10, pa.float64()),
        }
    )


def corpus(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """Every workload's input: ``documents`` and ``part``."""
    rng = np.random.default_rng(seed)
    return {"documents": documents_table(rng, n_docs), "part": part_table(rng, N_PARTS)}


def write_dir(path: str, tables: dict[str, pa.Table]) -> str:
    """Write ``tables`` as ``<name>.parquet`` files into a fresh ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
    return path
