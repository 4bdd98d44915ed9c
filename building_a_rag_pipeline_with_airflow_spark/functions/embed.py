"""Embedding generation.

The reference embeds with sentence-transformers / OpenAI
(``Chunking_Strats/chromadb_rag.py:25,82-85``) — network/model dependencies
that can't live in a hermetic engine test. The engine's embedder interface is
a pandas_udf ``text -> array<float>``; the default implementation is a
deterministic hashed bag-of-words projection (stable across processes via
md5), which preserves the *shape* of the real thing: cosine-meaningful,
unit-normalizable, fixed dim. Swap in a sentence-transformers UDF by passing
your own ``embed_fn`` — the plumbing (Arrow batches, broadcast-model pattern)
is identical.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def embed_text(text: str | None, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic hashed-BoW embedding of one string (unit L2 norm).

    Each whitespace token hashes (md5) to a bucket and a sign; the doc vector
    is the signed bucket histogram, L2-normalized. Pure-Python reference
    implementation — the pandas_udf and any driver-side query embedding call
    this same function, so train/serve skew is impossible.
    """
    vec = [0.0] * dim
    if text:
        for tok in text.lower().split():
            h = hashlib.md5(tok.encode("utf-8")).digest()
            bucket = int.from_bytes(h[:4], "big") % dim
            sign = 1.0 if h[4] % 2 == 0 else -1.0
            vec[bucket] += sign
    norm = math.sqrt(sum(x * x for x in vec))
    if norm > 0:
        vec = [x / norm for x in vec]
    return [float(x) for x in vec]


def hashed_embedder_udf(dim: int = DEFAULT_DIM):
    """Vectorized (Arrow-batched) UDF wrapping :func:`embed_text`."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(s: pd.Series) -> pd.Series:
        return s.map(lambda t: embed_text(t, dim))

    return _embed


def embed_documents(df, text_col: str = "text", out_col: str = "embedding",
                    dim: int = DEFAULT_DIM, embed_fn=None):
    """Attach an embedding column. ``embed_fn`` may be any pandas_udf with
    signature ``string -> array<float>`` (e.g. a sentence-transformers UDF
    with a per-executor broadcast model)."""
    udf = embed_fn if embed_fn is not None else hashed_embedder_udf(dim)
    return df.withColumn(out_col, udf(F.col(text_col)))
