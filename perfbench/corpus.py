"""Seeded synthetic document corpora for the benchmark.

The generator reproduces the shape of the engine's ``documents`` table
(``doc_id, text, lang, source, n_chars``): whitespace-joined words from a
30-word vocabulary, 10-99 words per document, 20 sources (``src{doc_id %
20}``), a skewed language mix, and a 5% share of near-duplicates that copy
another document's text and append the token ``dup`` (the label the
curation classifier gate learns).

Scaled corpora replicate a base corpus *organically*: replica ``r > 0``
suffixes every token with a seed-salted ``_<salt><r>`` tag and offsets its
doc ids, so replicas share no tokens, shingles or exact duplicates while the
within-replica structure is kept (the token-suffix rule of
``scripts/scale_curve.py``).

Everything is plain NumPy/pyarrow: generating inputs runs no Spark job, so
the traced Spark counters belong to the engine alone.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
REPLICA_ID_STRIDE = 10_000_000

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def base_docs(n_docs: int, seed: int) -> dict:
    """``n_docs`` documents as column lists (doc ids ``0..n_docs-1``)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=n)]) for n in lengths]
    n_dup = int(n_docs * DUP_SHARE)
    dup_ids = rng.choice(n_docs, size=n_dup, replace=False)
    dup_set = set(int(i) for i in dup_ids)
    originals = np.array([i for i in range(n_docs) if i not in dup_set])
    for d in dup_ids:
        texts[int(d)] = texts[int(rng.choice(originals))] + " dup"
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def replica_tag(seed: int, r: int) -> str:
    """The token suffix of replica ``r`` (none for replica 0)."""
    return f"_s{seed % 997}r{r}" if r else ""


def tagged(base: dict, tag: str, id_offset: int) -> dict:
    """``base`` with ``tag`` appended to every token and ``id_offset`` added
    to every doc id: an organic replica."""
    texts = [" ".join(w + tag for w in t.split(" ")) for t in base["text"]]
    return {
        "doc_id": [i + id_offset for i in base["doc_id"]],
        "text": texts,
        "lang": list(base["lang"]),
        "source": list(base["source"]),
        "n_chars": [len(t) for t in texts],
    }


def replicate(base: dict, n_replicas: int, seed: int) -> dict:
    """``n_replicas`` organic replicas of ``base`` (replica 0 verbatim)."""
    parts = [base] + [
        tagged(base, replica_tag(seed, r), r * REPLICA_ID_STRIDE)
        for r in range(1, n_replicas)
    ]
    return {k: [v for p in parts for v in p[k]] for k in SCHEMA.names}


def shuffled(cols: dict, seed: int) -> dict:
    """The same rows in a seed-chosen order."""
    order = np.random.default_rng(seed).permutation(len(cols["doc_id"]))
    return {k: [v[i] for i in order] for k, v in cols.items()}


def select(cols: dict, rows) -> dict:
    return {k: [v[i] for i in rows] for k, v in cols.items()}


def write_parquet(cols: dict, path: str, n_files: int = 1) -> None:
    """Write ``cols`` as ``n_files`` parquet files under directory ``path``
    (contiguous row ranges, one row group each)."""
    import os

    os.makedirs(path, exist_ok=True)
    n = len(cols["doc_id"])
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.table({k: v[lo:hi] for k, v in cols.items()}, schema=SCHEMA)
        pq.write_table(table, f"{path}/part-{f:05d}.parquet")
