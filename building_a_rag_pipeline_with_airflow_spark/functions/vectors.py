"""Vector math as Catalyst expressions over ``array<float/double>`` columns.

The reference delegates all vector math to ChromaDB's HNSW index
(``Chunking_Strats/chromadb_rag.py:96-140``). Here the exact path is pure
SQL: ``zip_with`` + ``aggregate`` are higher-order functions — JVM-side
*interpreted* expressions, NOT whole-stage-codegen'd — so a brute-force
cosine scan is a single columnar pass with no Python, but not a fused
codegen loop. Measured alternatives (2M rows × dim 64, local[32],
median of 3, r3):

* interpreted HOF (this module's form)             1.65 s
* per-element ``getItem`` expansion (codegen'd)    3.07 s  — the 64-term
  expression tree codegens but never vectorizes; 2x SLOWER than the HOF
* Arrow ``pandas_udf`` + numpy BLAS                1.23 s warm, 5.4 s cold

The HOF is the one scorer: the BLAS form's ~25% warm-throughput edge
costs Python workers, a 4× cold start, and its reassociated sum breaks
the sequential fold order the DuckDB oracles reproduce bit for bit.
Computation is in double regardless of storage type (float storage
halves IO; double math keeps scores stable)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    return _c(col).cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize (normalize-at-write so retrieval is a pure dot)."""
    arr = _d(a)
    norm = l2_norm(arr)
    return F.when(norm == 0, arr).otherwise(
        F.transform(arr, lambda x: x / norm)
    )


def cosine_or_zero(dot: Column, denom: Column) -> Column:
    """``dot / denom`` under the zero-vector rule every cosine here
    follows: an all-zero side (denominator 0) scores 0.0. The zero case
    rides on ``try_divide`` returning NULL (in ANSI and legacy modes
    alike), coalesced to 0.0, instead of a ``when`` guard that would
    re-evaluate the norms and double the per-row work; a NULL ``dot`` or
    ``denom`` scores 0.0 too."""
    return F.coalesce(F.try_divide(dot, denom), F.lit(0.0))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Three array aggregations per pair (dot + one norm per side) under
    the :func:`cosine_or_zero` rule. Null inputs stay null via the
    (cheap, non-aggregating) isNull gate."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(
        _c(a).isNull() | _c(b).isNull(), F.lit(None).cast("double")
    ).otherwise(cosine_or_zero(dot_product(a, b), denom))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 scalar quantization:
    ``struct(codes array<tinyint>, scale float)`` with
    ``scale = max(|x|) / 127`` and ``code = round(x / scale)``.

    Vector storage at 100 TB is IO-bound; int8 codes cut the embedding
    column to a quarter of float32 (scale rides along as one float). Pure
    Catalyst ``transform``/``aggregate`` — map-only, no Python, no
    shuffle. Per-element reconstruction error is bounded by ``scale/2``;
    the companion test pins recall@k of cosine over dequantized vectors
    against the full-precision ranking. All-zero vectors quantize to
    scale 0 with zero codes and dequantize back to zeros."""
    arr = _d(a)
    amax = F.aggregate(arr, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (amax / F.lit(127.0)).cast("float")
    codes = F.when(scale == 0, F.transform(arr, lambda x: F.lit(0).cast("byte"))
    ).otherwise(
        F.transform(arr, lambda x: F.round(x / scale).cast("byte"))
    )
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: ``array<float>`` ≈ the original
    vector (max per-element error ``scale/2``)."""
    qc = _c(q)
    return F.transform(
        qc.getField("codes"),
        lambda c: (c.cast("double") * qc.getField("scale")).cast("float"),
    )


def binary_signature(a: "Column | str", dim: int = 64) -> Column:
    """1-bit (sign) quantization of a ≤64-dim vector packed into ONE
    long: bit i set iff component i ≥ 0 — 32× smaller than float storage
    and comparable with a single codegen'd ``bit_count(a XOR b)``.

    Unlike the 8-plane sign-LSH signature (random projections), this is
    per-DIMENSION sign: for mean-centered embeddings the hamming
    distance between packed signs tracks angular distance closely enough
    to serve as the COARSE shortlist tier (the "binary quantization"
    mode every production vector store ships); exact re-ranking of the
    shortlist restores true scores. Pure Catalyst fold — no UDF."""
    if not 1 <= dim <= 64:
        raise ValueError(f"dim must be in [1, 64], got {dim}")
    c = F.col(a) if isinstance(a, str) else a
    # static per-dimension expansion with PYTHON-computed bit literals:
    # shiftleft() only takes a literal shift and pow(2, i) loses
    # exactness past 2^53; bit 63 is the long's sign bit (two's
    # complement literal). dim is a schema constant, so the 64-term OR
    # tree is built once at plan time and codegens.
    sig = F.lit(0).cast("long")
    for i in range(int(dim)):
        bit = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(c.getItem(i) >= 0, F.lit(bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig
