"""MLlib-backed ANN variants (SURVEY §2.7 scale path): KMeans IVF centroids
behind the same assign/probe plan as the oracle-checked stride variant, and
BucketedRandomProjectionLSH approxSimilarityJoin."""

import math

import pytest
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def query_vec(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]


def test_kmeans_centroids_shape(emb):
    cents = similarity.kmeans_centroids(emb, n_cells=8).collect()
    assert len(cents) == 8
    assert sorted(c.cell_id for c in cents) == list(range(8))
    dim = len(emb.first().embedding)
    assert all(len(c.cell_vec) == dim for c in cents)


def test_ivf_kmeans_matches_probe_contract(emb, query_vec):
    got = similarity.ivf_topk_cosine(
        emb, query_vec, k=5, method="kmeans", n_cells=8, nprobe=4
    ).collect()
    assert len(got) == 5
    # scores descend, ids break ties ascending
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    # every hit must really score what it claims (spot-check against exact)
    exact = {
        r.vec_id: r.score
        for r in similarity.topk_cosine(emb, query_vec, k=500).collect()
    }
    for r in got:
        assert abs(exact[r.vec_id] - r.score) < 1e-6


def test_ivf_kmeans_recall_vs_exact(emb, query_vec):
    exact_ids = [
        r.vec_id for r in similarity.topk_cosine(emb, query_vec, k=5).collect()
    ]
    approx_ids = [
        r.vec_id
        for r in similarity.ivf_topk_cosine(
            emb, query_vec, k=5, method="kmeans", n_cells=8, nprobe=4
        ).collect()
    ]
    # probing half the cells of a seeded clustering: expect most of top-5
    assert len(set(exact_ids) & set(approx_ids)) >= 3


def test_brp_topk_nearest_first(emb, query_vec):
    got = similarity.brp_topk(emb, query_vec, k=5, num_hash_tables=4).collect()
    assert len(got) == 5
    dists = [r.dist for r in got]
    assert dists == sorted(dists)
    # vec_id 0 IS the query vector — its own row must be the nearest hit
    assert got[0].vec_id == 0 and got[0].dist == 0.0
    # approx hits must rank-overlap the exact top-5 (normalized vectors:
    # euclidean rank == cosine rank)
    exact_ids = {
        r.vec_id for r in similarity.topk_cosine(emb, query_vec, k=5).collect()
    }
    assert len(exact_ids & {r.vec_id for r in got}) >= 3


def test_quantize_int8_roundtrip_error_bound(spark, emb):
    """Per-element |x - dequant(quant(x))| <= scale/2, exactly zero for
    all-zero vectors, and codes stay in int8 range."""
    from building_a_rag_pipeline_with_airflow_spark.functions import vectors as V

    q = emb.limit(200).select(
        "vec_id", "embedding", V.quantize_int8("embedding").alias("q")
    ).select(
        "vec_id", "embedding",
        F.col("q.scale").alias("scale"),
        F.col("q.codes").alias("codes"),
        V.dequantize_int8("q").alias("deq"),
    )
    for r in q.collect():
        assert all(-127 <= c <= 127 for c in r.codes)
        bound = (r.scale or 0.0) / 2 + 1e-6
        for orig, back in zip(r.embedding, r.deq):
            assert abs(float(orig) - float(back)) <= bound
    zero = spark.createDataFrame(
        [(1, [0.0] * 8)], "id long, v array<float>"
    ).select(V.dequantize_int8(V.quantize_int8("v")).alias("deq")).first()
    assert list(zero.deq) == [0.0] * 8


def test_quantized_cosine_recall(spark, emb, query_vec):
    """Ranking over dequantized int8 vectors must agree with the
    full-precision ranking: recall@10 >= 0.8 on the test corpus."""
    from building_a_rag_pipeline_with_airflow_spark.functions import vectors as V

    deq = emb.select(
        "vec_id", V.dequantize_int8(V.quantize_int8("embedding")).alias("embedding")
    )
    exact = {r.vec_id for r in similarity.topk_cosine(
        emb, query_vec, k=10, id_col="vec_id").collect()}
    quant = {r.vec_id for r in similarity.topk_cosine(
        deq, query_vec, k=10, id_col="vec_id").collect()}
    assert len(exact & quant) >= 8


def test_mmr_rerank_diversifies(spark, sf_dir):
    """MMR returns k ranked rows; rank 1 equals plain top-1 (pure
    relevance); lambda=1 reduces MMR to plain top-k; a low lambda must not
    produce a WORSE-spread set than plain top-k on redundant data."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval
    from building_a_rag_pipeline_with_airflow_spark.pipeline import build_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    index = build_index(docs)
    plain = retrieval.retrieve_chunks(index, "spark join merge", k=5)
    mmr = retrieval.mmr_rerank(index, "spark join merge", k=5, lambda_mult=0.5)
    got = mmr.select("chunk_id", "rank").collect()
    assert len(got) == 5 and sorted(r.rank for r in got) == [1, 2, 3, 4, 5]
    top1_plain = plain.where(F.col("rank") == 1).first().chunk_id
    top1_mmr = mmr.where(F.col("rank") == 1).first().chunk_id
    assert top1_mmr == top1_plain
    lam1 = retrieval.mmr_rerank(index, "spark join merge", k=5, lambda_mult=1.0)
    assert {r.chunk_id for r in lam1.collect()} == {
        r.chunk_id for r in plain.collect()
    }


def test_blocked_cosine_pairs_equals_naive_join(spark, sf_dir):
    """The BLAS-tiled exact pair operator must output BIT-IDENTICAL rows
    to the naive broadcast pair join — candidates come from reassociated
    matmul scores, but every survivor is re-scored with the engine's own
    sequential fold before the threshold applies."""
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import dot_product, l2_norm
    from building_a_rag_pipeline_with_airflow_spark.operators import similarity as sim

    emb = schemas.load_table(spark, sf_dir, "embeddings")
    blocked = sorted(
        map(tuple, sim.blocked_cosine_pairs(emb, threshold=0.4).collect())
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"),
                   l2_norm("embedding").alias("_na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"),
                   l2_norm("embedding").alias("_nb"))
    naive = sorted(
        map(
            tuple,
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.round(dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")), 4)
                .alias("cosine"),
            )
            .where(F.col("cosine") >= 0.4)
            .collect(),
        )
    )
    assert blocked == naive
    assert len(blocked) > 0


def test_lsh_clusters_match_exact_at_high_threshold(spark, emb):
    """The production LSH-banded cluster path vs the exact blocked-BLAS
    tier: at a high cosine threshold the qualifying pairs are
    near-duplicates, whose signatures collide in at least one band with
    probability ~1 — so the two paths must produce the SAME clusters.
    The fixture corpus has no natural near-dups (max pairwise cosine
    ≈0.48), so planted ones are appended: positively SCALED copies have
    cosine exactly 1.0 and an identical sign-LSH signature (sign bits are
    scale-invariant), making LSH recall exactly 1 by construction. (At
    looser thresholds recall drops by design; the registry query carries
    its own full value oracle for that regime.)"""
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    thr = 0.9
    planted = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.1)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)

    def clusters(pairs):
        labels = dedup.connected_components(pairs, "id_a", "id_b")
        return {(r.node, r.component) for r in labels.collect()}

    exact = clusters(similarity.blocked_cosine_pairs(corpus, threshold=thr))
    lsh = clusters(
        dedup.embedding_near_dups(
            corpus, vec_col="embedding", id_col="vec_id",
            threshold=thr, n_planes=8, n_bands=2, dim=64, seed=42,
        )
    )
    # every planted copy clusters with its source under its source's label
    assert {(v + 100_000, v) for v in range(20)} <= exact
    assert lsh == exact


def test_embedding_near_dups_max_bucket_guard(spark, emb):
    """The `max_bucket` backstop (the phash/linkage/baskets cap contract,
    added after the r7 scale-curve measured oversized chance buckets
    driving a 72x slowdown): a generous cap changes nothing, a cap of 1
    drops every band bucket (every vector shares its band with at least
    its planted copy) and so yields zero pairs."""
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    planted = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.1)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    kw = dict(
        vec_col="embedding", id_col="vec_id",
        threshold=0.9, n_planes=8, n_bands=2, dim=64, seed=42,
    )
    base = sorted(
        (r.id_a, r.id_b) for r in dedup.embedding_near_dups(corpus, **kw).collect()
    )
    assert len(base) >= 20
    capped = sorted(
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dups(
            corpus, max_bucket=corpus.count(), **kw
        ).collect()
    )
    assert capped == base
    assert (
        dedup.embedding_near_dups(corpus, max_bucket=1, **kw).count() == 0
    )


def test_binary_quant_recall_and_planted_exact(spark, emb, query_vec):
    """The 1-bit tier: a positively scaled copy of the query has the
    IDENTICAL sign signature (hamming 0), so it must surface at rank 1
    with cosine 1.0; and on the fixture corpus shortlist=64 must reach
    recall >= 0.8 vs the exact top-5 (binary signs are the coarse tier —
    raise shortlist for more)."""
    from pyspark.sql import functions as F

    planted = emb.where(F.col("vec_id") == 0).select(
        F.lit(900_000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    got = similarity.binary_topk_cosine(corpus, query_vec, k=5, shortlist=64)
    rows = got.collect()
    assert rows[0].score == 1.0 and rows[0].vec_id in (0, 900_000)

    exact = {
        r.vec_id
        for r in similarity.topk_cosine(emb, query_vec, k=5).collect()
    }
    approx = {
        r.vec_id
        for r in similarity.binary_topk_cosine(
            emb, query_vec, k=5, shortlist=64
        ).collect()
    }
    assert len(approx & exact) >= 4  # recall >= 0.8 at this shortlist


def test_binary_quant_rejects_bad_args(spark, emb, query_vec):
    with pytest.raises(ValueError):
        similarity.binary_topk_cosine(emb, query_vec, k=10, shortlist=5)


def test_ivf_balance_report_and_recluster(spark, emb, tmp_path):
    """The IVF maintenance pair the index docstrings defer to: streamed
    growth piles into existing cells; ivf_balance_report surfaces the
    drift; recluster_ivf_index rebuilds a balanced index at a NEW path
    (swap-then-expire) that still answers queries correctly."""
    from building_a_rag_pipeline_with_airflow_spark.streaming import ingest

    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, method="stride", stride=16)

    # skewed growth: 60 small perturbations of ONE vector — every new
    # vector assigns to that vector's nearest existing centroid
    seed_vec = emb.where(F.col("vec_id") == 1).first().embedding
    skew = spark.createDataFrame(
        [(100_000 + i, [float(x) + (i % 7) * 1e-4 for x in seed_vec])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    src = tmp_path / "vec_stream"
    src.mkdir()
    skew.write.parquet(str(src / "w1"))
    stream = spark.readStream.schema(skew.schema).parquet(f"{src}/*")
    ingest.streaming_extend_ivf_index(
        stream, idx, str(tmp_path / "ck")
    ).awaitTermination(120)

    report = similarity.ivf_balance_report(spark, idx)
    rows = report.collect()
    assert {"cell_id", "n_vectors", "n_batches", "share"} <= set(
        report.columns
    )
    stats = report.agg(
        F.max("n_vectors").alias("mx"), F.avg("n_vectors").alias("avg"),
        F.sum("n_vectors").alias("total"),
    ).first()
    assert stats["total"] == emb.count() + 60
    imbalance_before = stats["mx"] / stats["avg"]
    assert imbalance_before > 2.0  # the skewed batch shows up
    assert rows[0].n_batches >= 2  # hottest cell took streamed rows

    # offline recluster into a fresh path
    idx2 = str(tmp_path / "ivf2")
    similarity.recluster_ivf_index(spark, idx, idx2, n_cells=16)
    s2 = similarity.ivf_balance_report(spark, idx2).agg(
        F.max("n_vectors").alias("mx"), F.avg("n_vectors").alias("avg"),
        F.sum("n_vectors").alias("total"),
    ).first()
    assert s2["total"] == stats["total"]  # no vector lost
    assert s2["mx"] / s2["avg"] < imbalance_before  # measurably rebalanced

    # the rebuilt index still answers: an exact stored copy of the query
    # must surface at rank 1 with score 1.0
    got = similarity.query_ivf_index(
        spark, idx2, [float(x) for x in seed_vec], k=3, nprobe=4
    ).collect()
    assert got[0].score == 1.0


def test_recluster_preserves_quantized_layout(spark, emb, tmp_path):
    idx = str(tmp_path / "ivfq")
    similarity.build_ivf_index(
        emb, idx, method="stride", stride=16, quantize=True
    )
    idx2 = str(tmp_path / "ivfq2")
    similarity.recluster_ivf_index(spark, idx, idx2, n_cells=8)
    cols = spark.read.parquet(f"{idx2}/vectors").columns
    assert "_codes" in cols and "_scale" in cols and "embedding" not in cols


def test_plane_budget_guard(spark):
    """The measured LSH scaling rule, enforced (r7 VERDICT directive):
    under-provisioned banding on a large corpus RAISES with the minimum
    compliant planes; the explicit override downgrades to a warning; the
    measured-good configurations pass; n_est skips the count()."""
    import warnings

    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    # pure-rule checks against the r7 scale-curve measurements
    similarity.check_plane_budget(2000, 8, 2)            # measured fine
    similarity.check_plane_budget(10_000, 12, 2)         # measured re-tuned fix
    with pytest.raises(ValueError, match="n_planes >= "):
        similarity.check_plane_budget(10_000, 8, 2)      # measured 72x melt
    # tiny corpora are exempt (nothing to melt)
    similarity.check_plane_budget(200, 2, 2)
    # override: warns instead of raising
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.check_plane_budget(10_000, 8, 2, enforce=False)
    assert any("under-provisioned" in str(x.message) for x in w)

    # operator wiring: small planes on a large-n frame raises...
    big = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id") * 1.0, F.lit(1.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="under-provisioned"):
        dedup.embedding_near_dups(big, n_planes=2, n_bands=2, dim=2)
    with pytest.raises(ValueError, match="under-provisioned"):
        similarity.lsh_knn_join(
            big.selectExpr("vec_id as q_id", "embedding as q_vec").limit(3),
            big,
            n_planes=2,
            n_bands=2,
            dim=2,
        )
    # ...the override path runs to completion anyway
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("ignore")
        got = dedup.embedding_near_dups(
            big, n_planes=2, n_bands=2, dim=2, threshold=0.999,
            enforce_plane_budget=False,
        )
        assert got.count() >= 0
    # n_est replaces the in-operator count() (and is what 100 TB callers
    # pass: the corpus size is metadata they already have)
    with pytest.raises(ValueError, match="under-provisioned"):
        dedup.embedding_near_dups(
            big.limit(1), n_planes=2, n_bands=2, dim=2, n_est=1_000_000
        )


def test_mmr_topk_hand_computed(spark):
    """Greedy MMR on a 4-vector corpus where the selection order is
    derivable by hand: the most relevant is picked first; its near-clone
    (second-highest rel) is DEFERRED behind the orthogonal candidate by
    the diversity term at lambda=0.5; lambda=1 restores pure-relevance
    order."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [1.0, 0.1, 0.0, 0.0]),   # rel ~0.995
        (2, [1.0, 0.11, 0.0, 0.0]),  # near-clone of 1, rel ~0.994
        (3, [0.3, 1.0, 0.0, 0.0]),   # distinct direction, rel ~0.287
        (4, [0.0, 0.0, 1.0, 0.0]),   # orthogonal, rel 0
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = retrieval.mmr_topk(
        df, q, k=3, fetch_k=4, lambda_mult=0.5, id_col="vec_id"
    ).collect()
    # step 2: clone (m = .5*.994 - .5*.99995 < 0) loses to the orthogonal
    # vector (m = 0); step 3 the clone beats candidate 3's larger penalty
    assert [r.vec_id for r in got] == [1, 4, 2]
    assert [r.rank for r in got] == [1, 2, 3]
    # lambda=1: pure relevance — the clone comes straight back at rank 2
    lam1 = retrieval.mmr_topk(
        df, q, k=3, fetch_k=4, lambda_mult=1.0, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in lam1] == [1, 2, 3]
    # scores are on the exact 1e-7 grid (the oracle's fixed-point contract)
    for r in got:
        assert abs(r.mmr_score * 1e7 - round(r.mmr_score * 1e7)) < 1e-6


def test_mmr_topk_tiebreaks_on_smaller_id(spark):
    """Exactly duplicated vectors give identical 6dp rel and identical MMR
    objectives at every step — the argmax must take the smaller id."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    q = [1.0, 0.0]
    rows = [(7, [1.0, 0.2]), (3, [1.0, 0.2]), (5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = retrieval.mmr_topk(
        df, q, k=3, fetch_k=3, lambda_mult=0.5, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in got][0] == 3  # duplicate tie -> smaller id first
    # its twin's penalty (.5*1.0) still beats the orthogonal vector's
    # zero relevance (.5*0 - .5*0.196): [3, 7, 5]
    assert [r.vec_id for r in got] == [3, 7, 5]


def test_mmr_topk_empty_candidates(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    df = spark.createDataFrame([], "vec_id int, embedding array<double>")
    got = retrieval.mmr_topk(df, [1.0, 0.0], k=3, id_col="vec_id").collect()
    assert got == []


def test_mmr_topk_null_embeddings_degrade_gracefully(spark):
    """NULL vectors must be excluded BEFORE the candidate cut: with fewer
    non-null vectors than fetch_k the desc sort would otherwise admit
    NULL-scored rows and the greedy loop would crash on float(None)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    rows = [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = retrieval.mmr_topk(
        df, [1.0, 0.0], k=4, fetch_k=10, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in got] == [1, 3]  # nulls dropped, no raise
    # all-null index degrades to the empty frame, same schema
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id int, embedding array<double>"
    )
    assert retrieval.mmr_topk(allnull, [1.0, 0.0], k=2, id_col="vec_id").collect() == []


def test_expand_retrieved_window_clips_and_orders(spark):
    """Window edges clip at document boundaries; merged text is in
    chunk_index order; window=0 degenerates to the hit chunk itself."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    chunks = spark.createDataFrame(
        [("1_chunk_0", 1, 0, "a0"), ("1_chunk_1", 1, 1, "a1"),
         ("1_chunk_2", 1, 2, "a2"), ("2_chunk_0", 2, 0, "b0")],
        "chunk_id string, doc_id bigint, chunk_index int, text string",
    )
    hits = spark.createDataFrame(
        [("1_chunk_0", 1, 0, 1), ("1_chunk_1", 1, 1, 2), ("2_chunk_0", 2, 0, 3)],
        "chunk_id string, doc_id bigint, chunk_index int, rank int",
    )
    got = {r.chunk_id: r for r in retrieval.expand_retrieved_window(
        hits, chunks, window=1).collect()}
    assert got["1_chunk_0"].window_text == "a0 a1"        # clipped at doc start
    assert got["1_chunk_0"].n_window_chunks == 2
    assert got["1_chunk_1"].window_text == "a0 a1 a2"     # full window, ordered
    assert got["1_chunk_1"].n_window_chunks == 3
    assert got["2_chunk_0"].window_text == "b0"           # neighbor-less doc
    assert got["2_chunk_0"].rank == 3
    w0 = {r.chunk_id: r.window_text for r in retrieval.expand_retrieved_window(
        hits, chunks, window=0).collect()}
    assert w0 == {"1_chunk_0": "a0", "1_chunk_1": "a1", "2_chunk_0": "b0"}
    import pytest
    with pytest.raises(ValueError, match="window"):
        retrieval.expand_retrieved_window(hits, chunks, window=-1)


def test_mmr_topk_lambda_zero_picks_most_relevant_first(spark):
    """lambda=0 (pure diversity) must still seed with the MOST RELEVANT
    candidate — a lam-scaled first-pick key collapses every candidate to
    0 and falls through to the id tiebreak (regression pin)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    q = [1.0, 0.0]
    rows = [(1, [0.0, 1.0]), (9, [1.0, 0.05])]  # id 9 is far more relevant
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = retrieval.mmr_topk(
        df, q, k=1, fetch_k=2, lambda_mult=0.0, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in got] == [9]
    assert got[0].mmr_score == 0.0  # lam*rel at lam=0


def test_rerank_with_hand_computed(spark):
    """Two-stage rerank with the hermetic token-Jaccard scorer on a
    4-chunk corpus where the cross scores are hand-derivable: exact
    text match 1.0 > one-of-three overlap 1/3 > no overlap 0.0 = NULL
    text 0.0 (id tiebreak). fetch_k covers the corpus so the final
    order is the cross-encoder's alone; stage-1 cosine is reported in
    the score column."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    index = spark.createDataFrame(
        [
            (1, "alpha beta", [1.0, 0.0, 0.0, 0.0]),
            (2, "alpha gamma", [0.9, 0.1, 0.0, 0.0]),
            (3, "delta epsilon", [0.0, 1.0, 0.0, 0.0]),
            (4, None, [0.0, 0.0, 1.0, 0.0]),
        ],
        "chunk_id int, text string, embedding array<double>",
    )
    got = retrieval.rerank_with(
        index,
        "alpha beta",
        retrieval.token_overlap_scorer_udf(),
        k=4,
        fetch_k=4,
        dim=4,
    ).collect()
    assert [r.chunk_id for r in got] == [1, 2, 3, 4]
    assert [r.rank for r in got] == [1, 2, 3, 4]
    assert got[0].ce_score == 1.0
    assert got[1].ce_score == 1.0 / 3.0  # exact IEEE ratio, no rounding
    assert got[2].ce_score == 0.0 and got[3].ce_score == 0.0
    # stage-1 cosine rides along for every returned row
    assert all(r.score is not None for r in got)

    # k cut: only the top-2 by cross score survive
    top2 = retrieval.rerank_with(
        index, "alpha beta", retrieval.token_overlap_scorer_udf(),
        k=2, fetch_k=4, dim=4,
    ).collect()
    assert [r.chunk_id for r in top2] == [1, 2]


def test_rerank_with_plan_candidate_bounded(spark, sf_dir):
    """The candidate-bounded pin: stage 1 must be TakeOrderedAndProject
    (the corpus never shuffles), the candidate ids must BROADCAST back
    onto the index for text, and the pair scorer must be an
    Arrow-batched python eval — never a row-at-a-time UDF."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval
    from building_a_rag_pipeline_with_airflow_spark.pipeline import build_index

    docs = schemas.load_table(spark, sf_dir, "documents")
    index = build_index(docs, strategy="fixed")
    df = retrieval.rerank_with(
        index, "spark join merge", retrieval.token_overlap_scorer_udf(),
        k=3, fetch_k=5,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "stage-1 cut is not TakeOrdered"
    assert "BroadcastHashJoin" in plan, "candidates do not broadcast"
    assert "ArrowEvalPython" in plan, "scorer is not Arrow-batched"
    assert "BatchEvalPython" not in plan, "row-at-a-time python eval leaked in"


def test_rerank_with_rejects_bad_k(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    index = spark.createDataFrame(
        [(1, "a", [1.0, 0.0])], "chunk_id int, text string, embedding array<double>"
    )
    scorer = retrieval.token_overlap_scorer_udf()
    with pytest.raises(ValueError, match="k <= fetch_k"):
        retrieval.rerank_with(index, "a", scorer, k=0, fetch_k=4)
    with pytest.raises(ValueError, match="k <= fetch_k"):
        retrieval.rerank_with(index, "a", scorer, k=5, fetch_k=4)


def test_rerank_with_null_vectors_never_candidates(spark):
    """NULL vectors are excluded before the stage-1 cut (r10 advice —
    the mmr_topk boundary convention): with fewer non-null vectors than
    fetch_k, a NULL-scored row must not enter the candidate set and win
    the final ranking on ce_score with a NULL stage-1 score."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    index = spark.createDataFrame(
        [
            (1, "alpha beta", [1.0, 0.0, 0.0, 0.0]),
            # would score ce=1.0 and WIN the rerank if admitted
            (2, "alpha beta", None),
            (3, "delta", [0.0, 1.0, 0.0, 0.0]),
        ],
        "chunk_id int, text string, embedding array<double>",
    )
    got = retrieval.rerank_with(
        index, "alpha beta", retrieval.token_overlap_scorer_udf(),
        k=3, fetch_k=8, dim=4,
    ).collect()
    assert [r.chunk_id for r in got] == [1, 3]  # null-vec row dropped
    assert all(r.score is not None for r in got)


def test_cross_encoder_seam_gated():
    """The real-model adapter returns None where sentence-transformers is
    absent (this container) — the embedder seam's gating discipline."""
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval

    assert retrieval.try_cross_encoder_udf() is None


def test_rerank_slots_before_sentence_window(spark, sf_dir):
    """The two-stage rerank output composes with sentence-window
    expansion exactly like plain retrieval does (the 'slots behind
    MMR/sentence-window' contract): join the chosen ids back for
    (doc_id, chunk_index), expand ±1 — cross-encoder precision picks
    the hits, the expanded window is the answer context."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import retrieval
    from building_a_rag_pipeline_with_airflow_spark.pipeline import build_index

    docs = schemas.load_table(spark, sf_dir, "documents")
    index = build_index(docs, strategy="fixed")
    hits = retrieval.rerank_with(
        index, "spark join merge", retrieval.token_overlap_scorer_udf(),
        k=3, fetch_k=8,
    )
    enriched = hits.join(
        index.select("chunk_id", "doc_id", "chunk_index"), "chunk_id"
    )
    out = retrieval.expand_retrieved_window(
        enriched, index.drop("embedding"), window=1
    ).orderBy("rank")
    rows = out.collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    assert all(1 <= r.n_window_chunks <= 3 for r in rows)
    assert all(r.window_text for r in rows)


def test_ivf_null_vectors_never_enter_the_index(spark, tmp_path):
    """NULL embedding vectors are excluded at the assignment boundary
    (the mmr_topk NULL-vector guard convention): before the guard they
    tied on NULL similarity to every centroid and dumped into the
    lowest cell id — dead rows no cosine top-k can ever return, stored
    and scanned forever. Pins: build drops them, the streaming
    extension drops them, a NULL stride pick never becomes a centroid,
    and query results are unchanged vs a NULL-free corpus."""
    from building_a_rag_pipeline_with_airflow_spark.streaming import ingest

    clean = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5]), (4, [0.9, 0.1])],
        "vec_id int, embedding array<float>",
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(17, None)], "vec_id int, embedding array<float>")
    )
    # stride=16 makes vec_id 17 (% 16 == 1) a would-be centroid: the
    # picker must skip the NULL row, not create a dead cell
    path = str(tmp_path / "idx")
    similarity.build_ivf_index(dirty, path, n_cells=2, stride=16)
    assert sorted(
        r.vec_id for r in spark.read.parquet(f"{path}/vectors").collect()
    ) == [1, 2, 3, 4]
    cents = spark.read.parquet(f"{path}/centroids")
    assert all(r.cell_vec is not None for r in cents.collect())

    landing = tmp_path / "landing"
    landing.mkdir()
    spark.createDataFrame(
        [(5, [0.1, 0.9]), (6, None)], "vec_id int, embedding array<float>"
    ).write.parquet(str(landing / "d1"))
    stream = spark.readStream.schema(
        "vec_id int, embedding array<float>"
    ).parquet(f"{landing}/*")
    ingest.streaming_extend_ivf_index(
        stream, path, str(tmp_path / "ck")
    ).awaitTermination(120)
    stored = sorted(
        r.vec_id for r in spark.read.parquet(f"{path}/vectors").collect()
    )
    assert stored == [1, 2, 3, 4, 5]

    got = similarity.query_ivf_index(spark, path, [0.0, 1.0], k=2)
    assert [r.vec_id for r in got.collect()] == [2, 5]


def test_blocked_cosine_tile_cap_output_invariant(spark, sf_dir):
    """r17 (ADVICE r16): past the partition bound, block-pair tiles share
    partitions instead of scheduling B(B+1)/2 single-tile tasks. Output
    must be invariant — force a tile count past the cap
    max(8·defaultParallelism, 256) and pin pair-for-pair equality with a
    small-B run. B is derived from this host's cap (at least 40), so
    the capped branch runs on any core count."""
    from building_a_rag_pipeline_with_airflow_spark.operators import similarity

    cap = max(8 * spark.sparkContext.defaultParallelism, 256)
    # smallest B with B(B+1)/2 > cap
    n_blocks = max(40, (math.isqrt(8 * cap + 1) - 1) // 2 + 1)
    assert n_blocks * (n_blocks + 1) // 2 > cap
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lo = sorted(
        map(tuple, similarity.blocked_cosine_pairs(
            emb, threshold=0.4, n_blocks=4).collect())
    )
    hi = sorted(
        map(tuple, similarity.blocked_cosine_pairs(
            emb, threshold=0.4, n_blocks=n_blocks).collect())
    )
    assert lo == hi and lo


def test_zero_vectors_score_zero_like_topk_cosine(spark, tmp_path):
    """An all-zero query vector or corpus row scores 0.0 (the
    ``vectors.cosine_or_zero`` rule ``topk_cosine`` follows) through
    every IVF, kNN and near-dup pair entry point, where a raw ``dot /
    (norm * norm)`` raised DIVIDE_BY_ZERO under ANSI (and a NaN tile
    score dropped the pair from ``blocked_cosine_pairs``). stride=2 also
    draws the zero row as a centroid, so assignment and the probe meet
    it too."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0]), (4, [0.6, 0.8])],
        "vec_id int, embedding array<float>",
    )
    q, zero_q = [1.0, 0.0], [0.0, 0.0]
    queries = spark.createDataFrame(
        [(1, q), (2, zero_q)], "q_id int, q_vec array<float>"
    )

    def scores(df):
        return {r.vec_id: r.score for r in df.collect()}

    expect = scores(similarity.topk_cosine(corpus, q, k=4))
    assert expect[3] == 0.0
    zeros = {i: 0.0 for i in expect}
    assert scores(similarity.topk_cosine(corpus, zero_q, k=4)) == zeros

    for query, want in ((q, expect), (zero_q, zeros)):
        assert scores(
            similarity.ivf_topk_cosine(corpus, query, k=4, stride=2, nprobe=2)
        ) == want
    path = str(tmp_path / "idx")
    similarity.build_ivf_index(corpus, path, n_cells=2, stride=2)
    for query, want in ((q, expect), (zero_q, zeros)):
        assert scores(
            similarity.query_ivf_index(spark, path, query, k=4, nprobe=2)
        ) == want

    knn = similarity.knn_join(queries, corpus, k=4).collect()
    assert {r.vec_id: r.score for r in knn if r.q_id == 1} == expect
    assert {r.vec_id: r.score for r in knn if r.q_id == 2} == zeros
    # the zero query and the zero row sign-hash alike, so they always
    # meet as LSH candidates
    lsh = similarity.lsh_knn_join(
        queries, corpus, k=4, n_planes=2, n_bands=2, dim=2
    ).collect()
    assert any(r.q_id == 2 and r.vec_id == 3 for r in lsh)
    for r in lsh:
        assert r.score == (expect if r.q_id == 1 else zeros)[r.vec_id]

    # the pair matchers at threshold 0.0: every pair with the zero row
    # is kept, at 0.0
    all_pairs = {
        (1, 2): 0.0, (1, 3): 0.0, (1, 4): 0.6,
        (2, 3): 0.0, (2, 4): 0.8, (3, 4): 0.0,
    }
    blocked = similarity.blocked_cosine_pairs(corpus, threshold=0.0)
    assert {(r.id_a, r.id_b): r.cosine for r in blocked.collect()} == all_pairs
    near = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dups(
            corpus, threshold=0.0, n_planes=2, n_bands=2, dim=2,
            enforce_plane_budget=False,
        ).collect()
    }
    assert any(3 in pair for pair in near)
    assert near.items() <= all_pairs.items()


def test_query_literal_norm_equals_in_plan_l2_norm(spark):
    """``similarity._query_literal`` folds the query norm in Python;
    it must equal Spark's in-plan ``l2_norm`` over the same literal bit
    for bit. ``x**0.5`` is not correctly rounded: for this first query
    it gives 1.0 where Spark gives 0.9999999999999999."""
    import random

    from building_a_rag_pipeline_with_airflow_spark.functions.embed import embed_text
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import l2_norm

    rng = random.Random(15)
    words = "merge token spark rag query join sort scan vector index chunk".split()
    texts = ["merge token spark rag query"] + [
        " ".join(rng.choices(words, k=rng.randint(1, 12))) for _ in range(99)
    ]
    cols = []
    for i, t in enumerate(texts):
        q, q_norm = similarity._query_literal(embed_text(t))
        cols += [l2_norm(q).alias(f"s{i}"), q_norm.alias(f"f{i}")]
    row = spark.range(1).select(*cols).first()
    bad = [t for i, t in enumerate(texts) if row[f"s{i}"] != row[f"f{i}"]]
    assert not bad, bad[:5]


def test_single_query_cuts_sort_null_vectors_last(spark):
    """With fewer non-NULL vectors than ``k``, ``topk_cosine`` and
    ``binary_topk_cosine`` still return the NULL-vector rows, last and
    with a NULL score."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.6, 0.8]), (4, None)],
        "vec_id long, embedding array<float>",
    )
    cuts = {
        "topk": similarity.topk_cosine(df, [1.0, 0.0], k=4),
        "binary": similarity.binary_topk_cosine(
            df, [1.0, 0.0], k=4, shortlist=4, dim=2
        ),
    }
    for name, cut in cuts.items():
        got = [(r.vec_id, r.score) for r in cut.collect()]
        assert got == [(1, 1.0), (3, 0.6), (2, None), (4, None)], name
