"""Seeded inputs, written with the schemas of the test fixture tables.

- ``events``: the table ``sources.transcripts.transcripts_df`` derives
  the transcript table from (one event → ``explode`` turns).
- ``documents``: word-sequence documents of which a fixed share are
  near-duplicate edits of an earlier document.
- ``embeddings``: unit vectors of which a fixed share form one dense
  cluster, so one IVF list is hot.

The same seed always gives the same files. The program only ever sees
the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
N_USERS = 150
VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "filter",
    "group", "stream", "vector", "a", "the", "of", "and", "to",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
N_SOURCES = 20
# share of a near-duplicate's tokens replaced by a random word
EDIT_RATE = 0.05
# noise norm around the dense embedding cluster's centre
CLUSTER_SPREAD = 0.6


def write_events(path: str, seed: int, n: int) -> None:
    rng = np.random.default_rng(seed)
    span_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n)
    ).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.random(n) * 20, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, path)


def malformed_turns(n_turns: int, modulus: int) -> int:
    """Turns the transcript derivation emits without a parsable header:
    turn ids are 0..n_turns-1 and every ``modulus``-th one is malformed."""
    return len(range(0, n_turns, modulus))


def _edit(rng, tokens: list[str]) -> list[str]:
    out = [
        VOCAB[rng.integers(len(VOCAB))] if rng.random() < EDIT_RATE else t
        for t in tokens
    ]
    if rng.random() < 0.5 and len(out) > 12:
        del out[rng.integers(len(out))]
    return out


def documents_table(
    seed: int, n: int, neardup_share: float
) -> tuple[pa.Table, int]:
    """``n`` documents; ``round(n * neardup_share)`` of them are light
    token edits of an earlier original (never of another edit, so each
    duplicate cluster is a star around its original). Returns (table,
    n_near_dups)."""
    rng = np.random.default_rng(seed)
    n_dup = int(round(n * neardup_share))
    dup_at = set(rng.choice(np.arange(1, n), size=n_dup, replace=False).tolist())
    docs: list[list[str]] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            docs.append(_edit(rng, docs[originals[rng.integers(len(originals))]]))
        else:
            originals.append(i)
            k = int(rng.integers(10, 110))
            docs.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), k)])
    text = [" ".join(d) for d in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    return table, n_dup


def embeddings_table(seed: int, n: int, dim: int, cluster_share: float) -> pa.Table:
    """Unit vectors; ``cluster_share`` of them sit around one centre
    (noise norm ≈ ``CLUSTER_SPREAD``), the rest are uniform on the sphere."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    n_hot = int(round(n * cluster_share))
    centre = rng.standard_normal(dim)
    centre /= np.linalg.norm(centre)
    hot = rng.choice(n, size=n_hot, replace=False)
    x[hot] = centre + CLUSTER_SPREAD * x[hot]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)
