"""Build a K-fold statistical perf replica of an sf dir (measurement only).

The driver benches at a driver-generated scale factor larger than the
shipped sf0.1; that directory is not available between rounds. This tool
rebuilds a faithful stand-in by replicating sf0.1 K times with per-copy
decorrelation, preserving the statistics the corpus operators are
sensitive to WITHOUT fabricating cross-copy near-duplicates:

- documents: per-copy vocabulary permutation (seeded bijection among
  words of equal length → identical doc/word-length profiles and
  shingle-collision statistics per copy, near-zero cross-copy shingle
  overlap), doc_id offset per copy.
- embeddings: per-copy element rotation of the vector (preserves norms
  and pairwise-angle distribution within a copy; decorrelates copies),
  vec_id offset per copy.
- events: event_id/user_id offset per copy (preserves per-user event
  counts and the ts distribution; no cross-copy user collisions).

Only the three perf-relevant tables are replicated; the small TPC-H
side tables are copied through so the dir is loadable by the runners.

Usage: python tools/make_replica.py [src_sf_dir] [dst_dir] [K]
       (defaults: /root/testdata/sf0.1 /root/bigdata/sf1.0x 10)

NOT used by bench.py or any query path — measurement tooling only.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORD_RE = re.compile(r"\w+", re.UNICODE)


def _vocab_permutation(texts: list[str], seed: int) -> dict[str, str]:
    """Seeded bijection among equal-length words of the corpus vocabulary."""
    vocab = sorted({w for t in texts for w in WORD_RE.findall(t)})
    rng = np.random.default_rng(seed)
    by_len: dict[int, list[str]] = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)
    mapping: dict[str, str] = {}
    for _, words in sorted(by_len.items()):
        perm = list(words)
        rng.shuffle(perm)
        mapping.update(zip(words, perm))
    return mapping


def _permute_text(text: str, mapping: dict[str, str]) -> str:
    return WORD_RE.sub(lambda m: mapping.get(m.group(0), m.group(0)), text)


def replicate(src: str, dst: str, k: int) -> None:
    # copy c rotates each vector by c elements, so copy `dims` would be
    # bit-identical to copy 0: k >= dims fabricates cross-copy near-dups
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    dims = len(emb.column("embedding")[0].as_py())
    if k >= dims:
        raise ValueError(f"K={k} copies need K < dims={dims}")
    os.makedirs(dst, exist_ok=True)

    # pass-through side tables
    for fn in os.listdir(src):
        if fn.endswith(".parquet") and fn.split(".")[0] not in (
            "events", "documents", "embeddings",
        ):
            shutil.copy(os.path.join(src, fn), os.path.join(dst, fn))

    # --- documents ---
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    doc_ids = docs.column("doc_id").to_numpy()
    did_span = int(doc_ids.max()) + 1
    parts = []
    for c in range(k):
        if c == 0:
            t_c = texts
        else:
            mapping = _vocab_permutation(texts, seed=1000 + c)
            t_c = [_permute_text(t, mapping) for t in texts]
        parts.append(pa.table({
            "doc_id": pa.array(doc_ids + c * did_span, pa.int64()),
            "text": pa.array(t_c, docs.schema.field("text").type),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": docs.column("n_chars"),
        }))
    pq.write_table(pa.concat_tables(parts), os.path.join(dst, "documents.parquet"))

    # --- embeddings ---
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    vid = emb.column("vec_id").to_numpy()
    vid_span = int(vid.max()) + 1
    etype = emb.schema.field("embedding").type
    parts = []
    for c in range(k):
        parts.append(pa.table({
            "vec_id": pa.array(vid + c * vid_span, pa.int64()),
            "embedding": pa.array(np.roll(vecs, c, axis=1).tolist(), etype),
            "label": emb.column("label"),
        }))
    pq.write_table(pa.concat_tables(parts), os.path.join(dst, "embeddings.parquet"))

    # --- events ---
    ev = pq.read_table(os.path.join(src, "events.parquet"))
    eid = ev.column("event_id").to_numpy()
    uid = ev.column("user_id").to_numpy()
    eid_span = int(eid.max()) + 1
    uid_span = int(uid.max()) + 1
    parts = []
    for c in range(k):
        parts.append(pa.table({
            "event_id": pa.array(eid + c * eid_span, pa.int64()),
            "ts": ev.column("ts"),
            "user_id": pa.array(uid + c * uid_span, pa.int64()),
            "event_type": ev.column("event_type"),
            "value": ev.column("value"),
            "props": ev.column("props"),
        }))
    pq.write_table(pa.concat_tables(parts), os.path.join(dst, "events.parquet"))
    with open(os.path.join(dst, "_DONE"), "w"):
        pass


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/bigdata/sf1.0x"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    replicate(src, dst, k)
    print(f"wrote {dst} (K={k})")
