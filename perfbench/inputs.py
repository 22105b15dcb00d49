"""Seeded benchmark inputs: an sf0.1-shaped ``documents`` table, replicated.

The base table has the schema and value ranges of the sf0.1
``documents.parquet`` the package's queries are written against
(doc_id BIGINT 0..4999, text, lang, source, n_chars), generated here from a
fixed numpy seed so the benchmark needs no file outside its checkout.  A
workload input is that base replicated ``repl`` times with distinct doc_ids:

    doc_id = base_id + rep * 10_000_019 + seed_shift(seed)

Every span attribute the engine derives (position, weight, span count, the
1% hot docs) is a function of doc_id only, so the seed moves every point
while keeping the replicated table's shape: same doc count, same hot-doc
share, same span count distribution.

Files are written once per (seed, size) under the work directory and reused;
generation is never timed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
REP_STRIDE = 10_000_019
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def seed_shift(seed: int) -> int:
    # keeps every doc_id below 10^12 (synth pads doc uids to 12 digits)
    return (seed % 90_000) * 1_000_003


def base_documents(n_docs: int = BASE_DOCS) -> pa.Table:
    """The fixed base table (same for every seed); 5000 docs is sf0.1."""
    rng = np.random.default_rng(42)
    n_words = rng.integers(8, 100, size=n_docs)
    words = np.array(_WORDS)
    texts = []
    for n in n_words:
        t = " ".join(words[rng.integers(0, len(words), size=n)])
        texts.append(t[:577])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def replicate(base: pa.Table, seed: int, repl: int, rep0: int = 0) -> pa.Table:
    ids = base.column("doc_id").to_numpy()
    shift = seed_shift(seed)
    parts = []
    for rep in range(rep0, rep0 + repl):
        parts.append(base.set_column(0, "doc_id", pa.array(ids + rep * REP_STRIDE + shift)))
    return pa.concat_tables(parts)


def write_documents(
    path: str, seed: int, repl: int, n_files: int, *, rep0: int = 0, base=None
) -> dict:
    """Write ``repl`` seeded replicas as ``n_files`` parquet files under
    ``path``; returns {docs, spans, bytes}.  Reuses a finished earlier write."""
    meta_path = os.path.join(path, "_perfbench.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(path, exist_ok=True)
    base = base if base is not None else base_documents()
    n_files = max(1, min(n_files, repl))
    per = [repl // n_files + (1 if i < repl % n_files else 0) for i in range(n_files)]
    start = rep0
    for i, r in enumerate(per):
        pq.write_table(
            replicate(base, seed, r, start), os.path.join(path, f"part-{i:04d}.parquet")
        )
        start += r
    ids = np.concatenate(
        [base.column("doc_id").to_numpy() + rep * REP_STRIDE + seed_shift(seed)
         for rep in range(rep0, rep0 + repl)]
    )
    meta = {
        "docs": int(len(ids)),
        "spans": int(n_spans(ids).sum()),
        "hot_docs": int((ids % 100 == 0).sum()),
        "bytes": sum(os.path.getsize(p) for p in parquet_files(path)),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def n_spans(doc_ids: np.ndarray) -> np.ndarray:
    """Spans per doc, as synth.n_spans_sql derives them."""
    return np.where(doc_ids % 100 == 0, 48, doc_ids % 7 + 1)


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (what an operation leaves behind)."""
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _, files in os.walk(path)
        for fn in files
    )


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, fn) for fn in os.listdir(path) if fn.endswith(".parquet")
    )
