"""Seeded stand-in for the sf0.1 parquet corpus the operator queries read.

Writes the five tables the benchmarked queries touch (``part``,
``lineitem``, ``documents``, ``events``, ``embeddings``) with the same
column names, types and row counts as the sf0.1 test corpus, drawn from
``numpy.random.default_rng(seed)``: the same seed gives byte-identical
tables, so a query's expected output is a function of the seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PART = 20_000
N_LINEITEM = 600_000
N_DOCUMENTS = 5_000
N_EVENTS = 100_000
N_EMBEDDINGS = 2_000
EMBED_DIMS = 64

_WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
_LANGS = ["en", "de", "fr", "es", "zh", "ja"]
_EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_NOUNS = ["bolt", "nut", "ring", "gear", "pipe", "valve"]
_PART_ADJS = ["large", "hot", "small", "cold", "dark", "light"]


def _part(rng: np.random.Generator) -> pa.Table:
    # keys are a seeded sample of a wider key space: CORPUS_SQL derives
    # every URL from p_partkey alone, so the key set is what the seed moves
    keys = np.sort(rng.choice(10 * N_PART, size=N_PART, replace=False))
    adj = rng.integers(0, len(_PART_ADJS), N_PART)
    noun = rng.integers(0, len(_PART_NOUNS), N_PART)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [f"{_PART_ADJS[a]} {_PART_NOUNS[n]}" for a, n in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(10, 56, N_PART)],
            "p_type": [_PART_TYPES[t] for t in rng.integers(0, len(_PART_TYPES), N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900 + rng.random(N_PART) * 1100, 2),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 365 * 7, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_PART // 20, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900 + rng.random(n) * 4100), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(8, 80, N_DOCUMENTS)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # ~1% exact duplicates (the fingerprint-dedup query groups them)
    for i in rng.choice(N_DOCUMENTS, N_DOCUMENTS // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), N_DOCUMENTS)],
            "source": [f"src{i}" for i in rng.integers(0, 8, N_DOCUMENTS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = N_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 5_000, n), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, len(_EVENT_TYPES), n)],
            "value": np.round(rng.random(n) * 200, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 8, N_EMBEDDINGS)
    centers = rng.normal(size=(8, EMBED_DIMS))
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_EMBEDDINGS, EMBED_DIMS))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


TABLES = {
    "part": _part,
    "lineitem": _lineitem,
    "documents": _documents,
    "events": _events,
    "embeddings": _embeddings,
}


def write_corpus(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        # one child stream per table: a table's content does not depend
        # on which other tables are generated or in what order
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
