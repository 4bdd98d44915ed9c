"""Similarity search: exact cosine top-k, k-NN join, and LSH-bucketed ANN.

Reference behavior: ChromaDB ``collection.query`` = cosine top-k of a query
vector against the stored collection (``Chunking_Strats/chromadb_rag.py:
127-140``, TOP_K=5 at :18), with metadata-filtered "hybrid" search (README
:35-36) realized as a pre-filter.

Scale design:
* ``topk_cosine`` — single query vector: one columnar scan + TakeOrdered
  (no shuffle of the corpus; the top-k heap merges per partition). Fine at
  any corpus size that one pass can scan.
* ``knn_join`` — small query set: broadcast the queries, score per corpus
  partition, per-query top-k via window. Corpus never shuffles; only the
  (tiny) scored candidate set does.
* ``lsh_knn_join`` — large×large: random-hyperplane signatures bucket both
  sides; candidates only join within a band bucket (the classic
  sign-LSH / banding trick). Trades recall for a bounded shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions.vectors import (
    binary_signature,
    cosine_or_zero,
    dequantize_int8,
    dot_product,
    l2_norm,
    quantize_int8,
)

TOP_K = 5  # reference default, chromadb_rag.py:18


def topk_cosine(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefilter=None,
    payload=(),
) -> DataFrame:
    """Exact cosine top-k for one query vector (V2). ``prefilter`` is an
    optional Column predicate applied *before* scoring (V3 hybrid search —
    partition-prunable at scale). ``payload`` columns ride along after
    ``score``: ``(id, score, *payload)``. A NULL vector scores NULL and
    sorts last."""
    df = corpus if prefilter is None else corpus.where(prefilter)
    q, q_norm = _query_literal(query_vec)
    return _cosine_topk(
        df, F.col(vec_col), l2_norm(vec_col), q, q_norm, k, id_col,
        cols=("score", *payload),
    )


def _per_query_topk(scored, q_id, c_id: str, k: int, n_shards: int = 16,
                    score: str = "score", rank: str = "rank"):
    """Salted two-phase per-group top-k over a (group, candidate,
    ``score``) frame: the one copy of it for kNN, trigram search, batch
    BM25, co-occurrence recommend and per-group weighted sampling.
    ``q_id`` is a group column or a list of them; the input's columns
    are kept, and the per-group ``rank`` is appended. A single
    ``row_number() OVER (PARTITION BY q)`` sorts each query's WHOLE
    candidate set (corpus-scale for the exact tier, a hot band for LSH)
    in one task; phase 1 cuts top-k within (q, candidate-hash shard),
    phase 2 re-ranks the bounded q×shards×k survivors. Composition is
    exactly the per-query top-k — a query-wide winner also wins its
    shard; deterministic tiebreaks unchanged."""
    keys = [q_id] if isinstance(q_id, str) else list(q_id)
    w1 = Window.partitionBy(
        *keys, F.pmod(F.xxhash64(F.col(c_id)), F.lit(int(n_shards)))
    ).orderBy(F.desc(score), F.asc(c_id))
    survivors = (
        scored.withColumn("_rk", F.row_number().over(w1))
        .where(F.col("_rk") <= int(k))
        .drop("_rk")
    )
    w2 = Window.partitionBy(*keys).orderBy(F.desc(score), F.asc(c_id))
    return (
        survivors.withColumn(rank, F.row_number().over(w2))
        .where(F.col(rank) <= int(k))
        .select(*scored.columns, F.col(rank).cast("int").alias(rank))
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k neighbors in ``corpus`` for every row of ``queries`` (J3).

    Queries are broadcast (they are the small side by contract); the corpus
    is scanned once per partition with no shuffle; the only shuffle is the
    per-query window over scored candidates.

    Norms are projected once per row before the join so the per-pair work
    inside the nested loop is a single dot product.
    """
    qn = queries.withColumn("_qn", l2_norm(q_vec))
    cn = corpus.withColumn("_cn", l2_norm(c_vec))
    scored = cn.join(F.broadcast(qn)).select(
        F.col(q_id),
        F.col(c_id),
        F.round(
            cosine_or_zero(
                dot_product(F.col(c_vec), F.col(q_vec)), F.col("_cn") * F.col("_qn")
            ),
            4,
        ).alias("score"),
    )
    # scale-safe per-query cut — see _per_query_topk
    return _per_query_topk(scored, q_id, c_id, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic random hyperplanes (driver-side numpy, broadcast as
    literals — tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(float)


#: chance-collision budget constant of :func:`check_plane_budget` — per
#: band, random pairs collide at 2^-(planes/bands), so EXPECTED chance
#: candidates are ~C(n,2)·2^-(planes/bands) per band; requiring
#: planes/bands >= log2(n / _PLANE_BUDGET) caps them at ~n·_PLANE_BUDGET/2
#: per band (linear in corpus size). 256 is calibrated to the measured r7
#: scale curve (bench.py's git history): planes=8 at n=2000 passes
#: (measured fine, 4.95 s), planes=8 at n=10000 raises (measured 72×
#: melt), planes=12 at n=10000 passes (measured re-tuned fix, 3.2× growth).
_PLANE_BUDGET = 256


def check_plane_budget(
    n: int, n_planes: int, n_bands: int, enforce: bool = True
) -> None:
    """The LSH planes-vs-corpus-size scaling rule, ENFORCED in code (the
    `max_block`/`max_bucket`/`max_items` convention) instead of living as
    bench-docstring prose: sign-LSH banding whose per-band bit width
    ``planes/bands`` is below ``log2(n / 256)`` lets chance collisions
    grow quadratically in corpus size (the asymptotic form of the
    measured planes ≈ 2·log₂(n) tuning rule — re-tune as the corpus
    grows, like IVF re-clustering).

    Scope (the r8 25× measurement, bench.py's git history): the budget
    bounds the CANDIDATE superset — at 25× the compliant config carried
    3.5× fewer candidates than the rejected one (12.2M vs 43.0M, the
    rejected mass ~86% chance collisions). It cannot bound the
    VERIFIED-edge mass: every pair genuinely at/above the cosine
    threshold is downstream work (verify shuffle + component depth)
    whatever the banding, so a corpus whose intrinsic pair density at
    the threshold is high — e.g. a loose threshold over noisy vectors —
    keeps its cost even at a compliant plane count. Banding parameters
    buy back only the chance term; the threshold buys the rest.

    Raises ``ValueError`` naming the minimum compliant ``n_planes``;
    ``enforce=False`` (the explicit caller override, e.g. a scale-curve
    repro of the under-provisioned configuration) downgrades to a
    ``UserWarning``."""
    import math
    import warnings

    n = int(n)
    if n <= _PLANE_BUDGET:
        return
    min_bits = math.log2(n / float(_PLANE_BUDGET))
    if n_planes / n_bands >= min_bits:
        return
    need = math.ceil(min_bits * n_bands)
    msg = (
        f"sign-LSH banding with n_planes={n_planes}, n_bands={n_bands} is "
        f"under-provisioned for a corpus of n={n}: planes/bands = "
        f"{n_planes / n_bands:g} bits/band < log2(n/{_PLANE_BUDGET}) = "
        f"{min_bits:.1f}, so CHANCE collisions exceed the linear candidate "
        f"budget and candidate generation goes quadratic (measured: 72× "
        f"wall-time at 5× data, bench.py r7 scale curve). Use n_planes >= "
        f"{need} (the planes ≈ 2·log₂(n) rule), or pass "
        f"enforce_plane_budget=False to run under-provisioned anyway."
    )
    if enforce:
        raise ValueError(msg)
    warnings.warn(msg, UserWarning, stacklevel=3)


def lsh_signature(vec_col, planes) -> "F.Column":
    """Sign-LSH bit signature as a string key: 1 bit per hyperplane."""
    bits = [
        F.when(dot_product(vec_col, _query_literal(p)[0]) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    cell_id: str = "cell_id",
    cell_vec: str = "cell_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (IVF cell).

    Centroids are the small side by construction (√n to n/100 cells) and
    broadcast; the corpus is scanned once with no shuffle except the
    per-vector argmax window. Similarities are rounded to 4 decimals with
    cell-id tie-break so the assignment is reproducible bit-for-bit by any
    engine (the oracle requirement).

    At 100 TB the output is what you ``write.partitionBy(cell_id)`` — the
    probe path then prunes to nprobe partitions instead of scanning the
    corpus.

    Norms are projected once per side before the join (knn_join pattern) so
    the per-pair work in the corpus×centroids loop is one dot product, not
    five interpreted array aggregations — cosine's norm terms would
    otherwise be re-evaluated per pair inside the guard AND the division.

    NULL vectors are EXCLUDED here (the mmr_topk NULL-vector guard
    convention): a NULL vector has no direction, so it ties on the same
    similarity to every centroid and the argmax window dumps it into the
    lowest cell id — a row with no meaningful score, stored and scanned
    forever. Filtering at the assignment boundary
    keeps them out of the build, the streaming extension, and the
    recluster path at once."""
    cn = corpus.where(F.col(c_vec).isNotNull()).withColumn("_cn", l2_norm(c_vec))
    cent = centroids.withColumn("_celln", l2_norm(cell_vec))
    scored = cn.join(F.broadcast(cent)).select(
        corpus["*"],
        F.col(cell_id),
        F.round(
            cosine_or_zero(
                dot_product(F.col(c_vec), F.col(cell_vec)),
                F.col("_cn") * F.col("_celln"),
            ),
            4,
        ).alias("_csim"),
    )
    w = Window.partitionBy(c_id).orderBy(F.desc("_csim"), F.asc(cell_id))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_csim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    c_vec: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_per_cell: int = 256,
) -> DataFrame:
    """IVF centroids via MLlib KMeans (SURVEY §2.7 scale path).

    Fits on the vector column (array→ml Vector, distributed Lloyd's) and
    returns the centers as a (cell_id, cell_vec) DataFrame —
    broadcast-small by construction (n_cells ≪ corpus), drops straight
    into :func:`ivf_assign`. Deterministic for a fixed seed, but not
    reproducible by an external SQL oracle — the stride subsample remains
    the oracle-checked default.

    Centroid quality needs a bounded training sample, not the full corpus:
    IVF (FAISS-style) trains on ~O(100) vectors per cell, so the fit is
    capped at ``train_per_cell * n_cells`` rows via a seeded ``sample``
    whose fraction comes from an exact count of the corpus (one cheap
    count job — at 100 TB you'd pass the known table size instead).
    ``initMode=random`` + bounded ``maxIter``: kmeans|| spends several
    full passes picking seeds, which buys nothing for IVF cells where
    sampled-random seeds converge to comparable inertia in a handful of
    Lloyd iterations; each avoided pass is a full scan at scale."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # isNotNull: array_to_vector(NULL) would fail the fit mid-job (or a
    # NULL row would poison a center) — same NULL-vector guard as
    # ivf_assign and the stride picker
    feats = corpus.where(F.col(c_vec).isNotNull()).select(
        array_to_vector(F.col(c_vec).cast("array<double>")).alias("features")
    )
    target = train_per_cell * n_cells
    n = feats.count()
    if n > target:
        feats = feats.sample(fraction=target / n, seed=seed)
    model = KMeans(
        k=n_cells,
        seed=seed,
        maxIter=max_iter,
        initMode="random",
        tol=1e-4,
    ).fit(feats)
    rows = [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        rows, "cell_id long, cell_vec array<double>"
    )


def ivf_topk_cosine(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    stride: int = 16,
    nprobe: int = 4,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    method: str = "stride",
    n_cells: int | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: bucket the corpus into cells by nearest centroid,
    probe only the ``nprobe`` cells whose centroids are closest to the query,
    exact-rank within the probed cells.

    ``method="stride"`` (default) selects centroids by deterministic
    subsampling (every ``stride``-th vector) so results are exactly
    reproducible by a SQL oracle; ``method="kmeans"`` uses MLlib KMeans
    centers (:func:`kmeans_centroids`) — the production path — behind the
    identical assign/probe plan. Scale shape: centroid set stays
    broadcast-small, the scan of non-probed cells is skipped entirely
    (partition pruning when the index is written partitioned by cell), and
    the final top-k is a per-partition heap (TakeOrderedAndProject), never a
    global sort. Centroids, probe and scoring are the helpers
    :func:`build_ivf_index` and :func:`query_ivf_index` use
    (``_ivf_centroids``, ``_query_literal``, ``_probe_cells``,
    ``_cosine_topk``)."""
    centroids = _ivf_centroids(
        corpus, method, n_cells or max(2, nprobe * 4), stride, c_id, c_vec
    )
    assigned = ivf_assign(corpus, centroids, c_id, c_vec)
    q, q_norm = _query_literal(query_vec)
    probed = _probe_cells(centroids, q, q_norm, nprobe)
    return _cosine_topk(
        assigned.join(F.broadcast(probed), "cell_id"),
        F.col(c_vec), l2_norm(c_vec), q, q_norm, k, c_id, cols=("cell_id", "score"),
    )


def _ivf_centroids(corpus: DataFrame, method: str, n_cells: int, stride: int,
                   c_id: str, c_vec: str) -> DataFrame:
    """The (cell_id, cell_vec) centroids of :func:`ivf_topk_cosine` and
    :func:`build_ivf_index`: MLlib k-means centers, or every
    ``stride``-th vector. The stride picker skips NULL vectors: a NULL
    centroid is a dead cell that nothing should assign to or probe
    (:func:`ivf_assign` guards the corpus side)."""
    if method == "kmeans":
        return kmeans_centroids(corpus.select(c_id, c_vec), n_cells, c_vec=c_vec)
    return corpus.where(
        (F.col(c_id) % stride == F.lit(1)) & F.col(c_vec).isNotNull()
    ).select(F.col(c_id).alias("cell_id"), F.col(c_vec).alias("cell_vec"))


def _query_literal(query_vec: list[float]):
    """The query vector as an array literal, plus its norm as a literal:
    the one place a vector becomes a literal. Catalyst does not fold an
    ``aggregate`` over a literal array, so an in-plan ``l2_norm(q)``
    would run on every row; the norm is folded here instead, with the
    same left-to-right double summation Spark's aggregate uses and a
    correctly rounded ``math.sqrt`` (the JVM's ``sqrt``), so it equals
    the in-plan value bit for bit (``x**0.5`` is C ``pow``, which is
    not correctly rounded)."""
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    return F.array(*[F.lit(float(x)) for x in query_vec]), F.lit(math.sqrt(qn))


def _probe_cells(centroids: DataFrame, q, q_norm, nprobe: int) -> DataFrame:
    """The ``nprobe`` cell ids whose centroids are closest to the query,
    ties broken by cell id — the probe of both IVF query paths."""
    return _cosine_topk(
        centroids, F.col("cell_vec"), l2_norm("cell_vec"), q, q_norm, nprobe,
        "cell_id",
    ).select("cell_id")


def _cosine_topk(rows: DataFrame, vec, norm, q, q_norm, k: int, c_id: str,
                 cols=("score",), rel: bool = False) -> DataFrame:
    """The one single-query cosine cut: each row's ``vec`` (norm
    ``norm``) against the query ``q`` (norm ``q_norm``, from
    :func:`_query_literal`), scored NULL for a NULL vector and otherwise
    under the ``cosine_or_zero`` rule; the ``k`` best by 4dp ``score``,
    ties to the smaller id. Output is ``(c_id, *cols)``: ``cols`` are
    column names, where ``score`` places the score and every other name
    is carried through; ``rel`` appends the same cosine at 6dp. The cosine
    is projected once and rounded after, and the cut is a per-partition
    heap (TakeOrderedAndProject), never a global sort."""
    cos = F.when(vec.isNull(), F.lit(None).cast("double")).otherwise(
        cosine_or_zero(dot_product(vec, q), norm * q_norm)
    )
    out = [F.round("_cos", 4).alias("score") if c == "score" else c for c in cols]
    return (
        rows.select(F.col(c_id), *[c for c in cols if c != "score"], cos.alias("_cos"))
        .select(c_id, *out, *([F.round("_cos", 6).alias("rel")] if rel else []))
        .orderBy(F.desc("score"), F.asc(c_id))
        .limit(k)
    )


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int = 64,
    seed: int = 42,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    n_est: "int | None" = None,
    enforce_plane_budget: bool = True,
) -> DataFrame:
    """Approximate k-NN join for large×large inputs: both sides get sign-LSH
    signatures split into bands; candidate pairs share at least one band
    bucket (equi-join per band — a co-partitioned shuffle join, never a cross
    join); exact cosine re-ranks candidates.

    Banding parameters must keep pace with corpus size or chance
    collisions go quadratic: :func:`check_plane_budget` (the coded
    planes ≈ 2·log₂(n) rule) runs against ``n_est`` (pass the known
    corpus size, or leave ``None`` for one ``count()`` on the corpus
    side) and RAISES when under-provisioned;
    ``enforce_plane_budget=False`` downgrades to a warning."""
    check_plane_budget(
        corpus.count() if n_est is None else n_est,
        n_planes,
        n_bands,
        enforce=enforce_plane_budget,
    )
    planes = _hyperplanes(dim, n_planes, seed)
    cand = (
        _sign_bands(queries, q_vec, planes, n_bands)
        .join(_sign_bands(corpus, c_vec, planes, n_bands), "band")
        .select(q_id, c_id, q_vec, c_vec)
        .dropDuplicates([q_id, c_id])
    )
    scored = cand.select(
        q_id,
        c_id,
        F.round(
            cosine_or_zero(
                dot_product(F.col(c_vec), F.col(q_vec)),
                l2_norm(F.col(c_vec)) * l2_norm(F.col(q_vec)),
            ),
            4,
        ).alias("score"),
    )
    # scale-safe per-query cut — see _per_query_topk
    return _per_query_topk(scored, q_id, c_id, k)


def _sign_bands(df: DataFrame, vec_col: str, planes, n_bands: int,
                **extra) -> DataFrame:
    """``df`` exploded to one row per sign-LSH band of ``vec_col``: the
    ``band`` key ``"<b>:<bits>"`` is the b-th slice of the signature over
    ``planes``, the candidate key of :func:`lsh_knn_join` and
    ``dedup.embedding_near_dups``. ``extra`` columns are computed once
    per input row, before the explode."""
    width = len(planes) // n_bands
    keys = F.array(
        *[
            F.concat(F.lit(f"{b}:"), F.substring("_sig", b * width + 1, width))
            for b in range(n_bands)
        ]
    )
    return (
        df.withColumns({"_sig": lsh_signature(F.col(vec_col), planes), **extra})
        .withColumn("band", F.explode(keys))
        .drop("_sig")
    )


def brp_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = TOP_K,
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Single-query ANN top-k via MLlib
    ``BucketedRandomProjectionLSH.approxNearestNeighbors`` (the SURVEY §2.7
    V2 scale alternative to the exact TakeOrdered scan). Returns
    (c_id, dist) rows, nearest first, Euclidean distance — on normalized
    vectors rank order equals cosine rank order."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    fb = corpus.select(
        F.col(c_id).alias("id"),
        array_to_vector(F.col(c_vec).cast("array<double>")).alias("features"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(fb)
    hits = model.approxNearestNeighbors(
        fb, Vectors.dense([float(x) for x in query_vec]), k, distCol="dist"
    )
    return hits.select(F.col("id").alias(c_id), F.round("dist", 4).alias("dist"))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    method: str = "stride",
    stride: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    quantize: bool = False,
) -> None:
    """Materialize an IVF index on storage: vectors partitioned by cell.

    This is the durable form of :func:`ivf_topk_cosine`'s in-plan index,
    with the same centroid picker (``_ivf_centroids``) — the assign step
    runs ONCE at build time, and the layout does the work
    at query time: ``<path>/vectors/cell_id=N/`` directories mean a probe
    reads exactly the ``nprobe`` cells it needs via partition PRUNING (the
    scan never opens the other cells' files), which is the difference
    between O(corpus) and O(corpus/n_cells·nprobe) IO at 100 TB. Centroids
    land beside the vectors (``<path>/centroids``) — they are the
    broadcast-small query-time metadata.

    Per-vector norms are precomputed into the layout (``_vnorm``) so every
    future query skips the norm pass entirely — storage pays once what
    each query would otherwise recompute.

    ``quantize=True`` stores int8 codes + a per-vector scale
    (:func:`~building_a_rag_pipeline_with_airflow_spark.functions.vectors.quantize_int8`)
    instead of float vectors — a quarter of the probe IO, which at 100 TB
    is usually the whole query cost. ``_vnorm`` is computed over the
    DEQUANTIZED vector so stored norm and reconstructed vector are
    self-consistent at scoring time; :func:`query_ivf_index` detects the
    coded layout from the schema and dequantizes in-plan (pure Catalyst
    transform, no Python). Recall impact is pinned by test (≥0.8@10 on
    the test corpus)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty

    centroids = _ivf_centroids(corpus, method, n_cells, stride, c_id, c_vec)
    # an empty centroid set (e.g. a stride that misses every id in a
    # filtered corpus) would silently write an EMPTY index; fail loudly
    require_nonempty(centroids, "ivf centroids")
    assigned = _ivf_rows(ivf_assign(corpus, centroids, c_id, c_vec), c_vec, quantize)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # family-shared layout write (sources.index_layout): base build =
    # batch -1; streaming_extend_ivf_index appends under its own
    # _batch_id values so a replayed batch overwrites itself
    from building_a_rag_pipeline_with_airflow_spark.sources import index_layout

    index_layout.write_index_rows(
        assigned, f"{path}/vectors", partition_cols=("cell_id",)
    )


def _ivf_rows(assigned: DataFrame, c_vec: str, quantize: bool) -> DataFrame:
    """The stored IVF row encoding, for the build and the streamed
    extender alike: the vector plus its precomputed norm ``_vnorm``, or,
    when ``quantize``, int8 ``_codes`` + ``_scale`` in place of the
    vector with ``_vnorm`` taken over the DEQUANTIZED vector."""
    if not quantize:
        return assigned.withColumn("_vnorm", l2_norm(c_vec))
    return (
        assigned.withColumn("_q", quantize_int8(c_vec))
        .withColumn("_codes", F.col("_q").getField("codes"))
        .withColumn("_scale", F.col("_q").getField("scale"))
        .withColumn("_vnorm", l2_norm(dequantize_int8("_q")))
        .drop("_q", c_vec)
    )


def ivf_balance_report(spark, path: str) -> DataFrame:
    """Per-cell health of a :func:`build_ivf_index` layout: one row per
    cell with ``n_vectors`` and ``n_batches`` (how many streamed
    extensions landed there), plus the global share each cell holds.

    This is the drift signal the IVF docstrings' maintenance contract
    keys on ("recompute/re-cluster offline when balance drifts, never
    per arrival"): streamed extensions assign to the NEAREST EXISTING
    centroid, so a shifting corpus piles into few cells and probe cost
    degrades toward O(corpus/nprobe-fraction-of-one-cell). The scan
    reads only partition/metadata-class columns (cell_id is a partition
    value); output is n_cells rows. Decide with
    ``max(n_vectors) / avg(n_vectors)`` — the imbalance factor a
    balanced index holds near 1 — then run :func:`recluster_ivf_index`."""
    rows = spark.read.parquet(f"{path}/vectors")
    per_cell = rows.groupBy("cell_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.count_distinct("_batch_id").cast("int").alias("n_batches"),
    )
    total = F.sum("n_vectors").over(Window.partitionBy())  # n_cells rows only
    return per_cell.select(
        "cell_id",
        "n_vectors",
        "n_batches",
        F.round(F.col("n_vectors") / total, 4).alias("share"),
    ).orderBy(F.desc("n_vectors"), F.asc("cell_id"))


def recluster_ivf_index(
    spark,
    path: str,
    out_path: str,
    n_cells: int = 16,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> None:
    """Offline IVF re-cluster: read every stored vector (ALL batches —
    base build plus streamed extensions), fit fresh k-means centroids
    over the corpus as it exists NOW, and write a NEW index at
    ``out_path`` — the maintenance operation every IVF docstring defers
    to when :func:`ivf_balance_report` shows drift.

    Contract points:

    * **Swap-then-expire, never in-place** (the `compact_parquet`
      rule): the old index keeps serving concurrent readers; the caller
      swaps the path via
      :func:`~building_a_rag_pipeline_with_airflow_spark.sources.index_layout.publish_index`
      (readers resolve through ``current_index``) and later expires the
      old directory with ``expire_index_versions``.
    * **Quantized layouts re-cluster losslessly-enough**: int8 codes are
      dequantized in-plan (``_decoded``, pure Catalyst) for the
      fit/assign, and the rebuilt index is re-quantized — set by whether
      the source layout stored codes.
    * **The rebuild is a fresh BASE build** (every vector lands under
      batch -1): streamed extension history is consolidated, so an
      extension stream must restart with a FRESH checkpoint against the
      new path — the same freeze-or-rebaseline contract as
      ``streaming_psi`` (a replayed old batch id would overwrite rows
      that now belong to the consolidated base).

    Delegates the fit/assign/write to :func:`build_ivf_index` — one
    implementation of the layout mechanics (the `index_layout` family
    rule)."""
    rows = spark.read.parquet(f"{path}/vectors")
    quantized = "_codes" in rows.columns
    if quantized:
        corpus = rows.select(F.col(c_id), _decoded().alias(c_vec))
    else:
        corpus = rows.select(c_id, c_vec)
    build_ivf_index(
        corpus,
        out_path,
        n_cells=n_cells,
        method="kmeans",
        c_id=c_id,
        c_vec=c_vec,
        quantize=quantized,
    )


def query_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = TOP_K,
    nprobe: int = 4,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    prefilter=None,
) -> DataFrame:
    """Top-k cosine against a :func:`build_ivf_index` layout, reading ONLY
    the probed cells.

    The nprobe cell ids are resolved on the driver from the centroids
    parquet (index METADATA — a few KB, the same class of driver work as
    reading a footer; the data path stays fully distributed) so the cell
    predicate is literal at plan time and Catalyst turns it into partition
    pruning: the FileScan's ``PartitionFilters`` drops every other
    ``cell_id=N`` directory without opening it. The probe
    (``_query_literal``, ``_probe_cells``) and the top-k (``_cosine_topk``)
    are :func:`ivf_topk_cosine`'s; scoring reuses the stored ``_vnorm``
    — no per-query norm recomputation — and a quantized layout decodes
    through ``_decoded``, as :func:`recluster_ivf_index` does."""
    q, q_norm = _query_literal(query_vec)
    probed = _probe_cells(spark.read.parquet(f"{path}/centroids"), q, q_norm, nprobe)
    probe_cells = [r["cell_id"] for r in probed.collect()]
    vectors = spark.read.parquet(f"{path}/vectors").where(
        F.col("cell_id").isin(probe_cells)
    )
    if prefilter is not None:
        # hybrid search (V3) on the durable index: the metadata predicate
        # composes with the cell predicate at the same scan, so it prunes
        # row groups inside the probed partitions (parquet min/max stats)
        vectors = vectors.where(prefilter)
    # a quantized layout scans int8 codes + one float (a quarter of the
    # float32 probe IO); _vnorm was stored over the dequantized vector
    # so the cosine is self-consistent
    vec = _decoded() if "_codes" in vectors.columns else F.col(c_vec)
    return _cosine_topk(
        vectors, vec, F.col("_vnorm"), q, q_norm, k, c_id, cols=("cell_id", "score")
    )


def _decoded():
    """A quantized IVF layout's vector, rebuilt in-plan (Catalyst
    transform, no Python) as ``_codes`` · ``_scale`` in double."""
    return F.transform(F.col("_codes"), lambda c: c.cast("double") * F.col("_scale"))


def blocked_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    ndigits: int = 4,
    n_blocks: "int | None" = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via DISTRIBUTED blocked BLAS —
    the textbook block-matrix formulation of brute-force similarity:

    1. hash every vector into one of ``n_blocks`` blocks and pack each
       block into ONE row holding its ids + matrix (``applyInPandas``;
       block rows are KB-to-MB scale);
    2. cross-join the ``B·(B+1)/2`` ordered block pairs — a tiny frame —
       so each TASK owns one block-pair tile and computes its full
       similarity sub-matrix with one numpy/BLAS matmul (vectorized,
       ~100× the throughput of per-pair interpreted higher-order
       functions: 22.3 s → ~2 s measured at sf0.1, 12.5M pairs);
    3. keep CANDIDATES at ``threshold − 5·10^-ndigits`` slack (BLAS
       reassociates sums, so tile scores differ from the engine's
       sequential fold by ~1e-13 — the slack is 9 orders of magnitude
       wider), then re-score the few survivors with the engine's own
       sequential `dot/(‖a‖·‖b‖)` and round — so the OUTPUT is
       bit-identical to the naive HOF join and oracles unchanged. A
       zero vector scores 0.0 against every row, in its tiles and in the
       re-score (the ``vectors.cosine_or_zero`` rule of the other cosine
       paths).

    Work is O(n²/B²) per task across B² tasks — the quadratic cost is
    inherent to exactness (the LSH/IVF paths are the sub-quadratic
    answers); this operator makes the exact tier pay it at matmul speed
    with no driver collect and no broadcast of the full corpus.

    ``n_blocks=None`` (the default since r16) derives B from the corpus
    size — ``max(4, ⌈√(n/60)⌉, ⌈n/4000⌉)`` — so blocks stay big enough
    for the matmul to amortize the per-tile Python/Arrow overhead while
    the ``n/4000`` floor caps any tile's score matrix at ~128 MB. The
    OUTPUT is provably invariant to B: tiles only produce CANDIDATES at
    the fixed slack (any true pair passes under any blocking), and the
    engine-exact re-score decides membership pair-by-pair. Measured at
    sf0.1 (n=2,000): fixed B=16 → derived B=6 reads 1.80 s → 0.87 s
    warm solo, byte-identical pairs (the 125-row blocks at B=16 left
    every matmul too small to amortize its task). Deriving B costs one
    ``count()`` of the input — a parquet-metadata count when ``emb`` is
    a bare scan, but a FULL execution of any derived upstream pipeline
    (which then runs again when the pairs compute): callers with an
    expensive unpersisted upstream should persist ``emb`` or pass
    ``n_blocks`` explicitly.

    Tile tasks are capped (r17, ADVICE r16): past n≈267k the ``n/4000``
    memory floor grows B linearly, so the B(B+1)/2 tile count grows
    quadratically — n=1M would schedule ~31k single-tile tasks, where
    per-task overhead swamps the matmul win. The tile→partition
    repartition is therefore bounded at ``max(8·defaultParallelism,
    256)`` partitions; past the bound tiles SHARE partitions (several
    matmuls per task — output unaffected, B-invariance above). Local
    plans are unchanged (21 tiles at sf0.1, far under any bound).
    """
    import math

    import numpy as np
    import pandas as pd

    src = emb.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    )
    if n_blocks is None:
        n = src.count()
        n_blocks = max(4, math.isqrt(max(int(n) // 60, 0)) + 1, -(-int(n) // 4000))

    # Pack each block ONCE into (ids, row-major float64 matrix bytes):
    # the per-vector list→numpy conversion happens n times total here,
    # not n×blocks times inside every tile, and tiles ship one compact
    # binary cell instead of an Arrow list-of-lists.
    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        M = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
        )
        # a zero row stays zero, so its tiles score 0.0 (the
        # cosine_or_zero rule), not NaN
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        M /= np.where(norms == 0.0, 1.0, norms)
        return pd.DataFrame(
            {
                "_blk": [int(pdf["_blk"].iloc[0])],
                "_ids": [pdf["_id"].to_numpy(dtype=np.int64)],
                "_mat": [M.tobytes()],
                "_d": [M.shape[1]],
            }
        )

    packed = (
        src.withColumn(
            "_blk",
            F.pmod(F.crc32(F.col("_id").cast("string")), F.lit(n_blocks)).cast("int"),
        )
        .groupBy("_blk")
        .applyInPandas(pack, "_blk int, _ids array<long>, _mat binary, _d int")
    )
    tiles = (
        packed.select(
            F.col("_blk").alias("_ba"), F.col("_ids").alias("_ids_a"),
            F.col("_mat").alias("_mat_a"), "_d",
        )
        .join(
            packed.select(
                F.col("_blk").alias("_bb"), F.col("_ids").alias("_ids_b"),
                F.col("_mat").alias("_mat_b"),
            ),
            F.col("_ba") <= F.col("_bb"),
        )
        # one tile per task while tiles are few; past the cap, tiles
        # share partitions (several matmuls per task) so the task count
        # cannot grow quadratically with B (docstring, ADVICE r16)
        .repartition(
            min(
                n_blocks * (n_blocks + 1) // 2,
                max(8 * emb.sparkSession.sparkContext.defaultParallelism, 256),
            )
        )
    )
    slack = float(threshold) - 5.0 * (10.0 ** -int(ndigits))

    def score_tiles(batches):
        for pdf in batches:
            out_a, out_b = [], []
            for _, row in pdf.iterrows():
                d = int(row["_d"])
                ids_a = np.asarray(row["_ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["_ids_b"], dtype=np.int64)
                A = np.frombuffer(row["_mat_a"], dtype=np.float64).reshape(-1, d)
                B = np.frombuffer(row["_mat_b"], dtype=np.float64).reshape(-1, d)
                C = A @ B.T
                ia, ib = np.nonzero(C >= slack)
                if row["_ba"] == row["_bb"]:
                    keep = ids_a[ia] < ids_b[ib]
                else:
                    keep = np.ones(len(ia), dtype=bool)
                pa, pb = ids_a[ia[keep]], ids_b[ib[keep]]
                out_a.append(np.minimum(pa, pb))
                out_b.append(np.maximum(pa, pb))
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    cand = tiles.mapInPandas(score_tiles, "id_a long, id_b long")
    # engine-exact re-score of the (few) candidates: output rounding and
    # threshold semantics identical to the naive pair join / SQL oracle
    a = src.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                   l2_norm("_v").alias("_na"))
    b = src.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                   l2_norm("_v").alias("_nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                cosine_or_zero(dot_product("_va", "_vb"), F.col("_na") * F.col("_nb")),
                int(ndigits),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= float(threshold))
    )


def binary_topk_cosine(
    corpus: DataFrame,
    query_vec: "list[float]",
    k: int = TOP_K,
    shortlist: int = 100,
    dim: int = 64,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Binary-quantization ANN tier: 1-bit sign signatures
    (``vectors.binary_signature`` — 32× smaller than float storage)
    shortlisted by hamming distance (one codegen'd
    ``bit_count(sig XOR qsig)`` per row, TakeOrdered heap), then EXACT
    cosine re-rank of the ``shortlist`` rows only — the coarse tier
    every production vector store ships between brute force and IVF.
    The query signature packs driver-side (metadata); scores/tiebreaks
    match the exact scan on whatever the shortlist retains (recall is
    the quality knob: raise ``shortlist`` to trade IO for recall;
    pinned in tests/test_mllib_ann.py)."""
    if k < 1 or shortlist < k:
        raise ValueError(
            f"need shortlist >= k >= 1, got k={k} shortlist={shortlist}"
        )
    qsig = 0
    for i, x in enumerate(query_vec[: int(dim)]):
        if float(x) >= 0:
            qsig |= 1 << i
    if qsig >= 1 << 63:
        qsig -= 1 << 64  # two's-complement long
    sigged = corpus.withColumn(
        "_sig", binary_signature(c_vec, int(dim))
    ).withColumn(
        "_ham",
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig).cast("long"))),
    )
    short = sigged.orderBy(F.asc("_ham"), F.asc(c_id)).limit(int(shortlist))
    q, q_norm = _query_literal(query_vec)
    return _cosine_topk(short, F.col(c_vec), l2_norm(c_vec), q, q_norm, int(k), c_id)
