"""End-to-end RAG pipeline (reference E1: ``rag_pipeline``,
``Chunking_Strats/chromadb_rag.py:184-212``) as one Catalyst plan:

documents → chunk (strategy dispatch T4) → embed (V1) → [optional hybrid
prefilter V3] → cosine top-k (V2) → assembled context (T14).

Where the reference round-trips through a vector store per call, the engine
builds/persists the chunk index once (``build_index``) and serves queries
from it — replace-on-write parquet gives the reference's ``replace=True``
idempotence (K1, dags:372).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions.embed import (
    DEFAULT_DIM,
    embed_documents,
    hashed_embedder_udf,
)
from building_a_rag_pipeline_with_airflow_spark.operators import chunking
from building_a_rag_pipeline_with_airflow_spark.operators.retrieval import (
    assemble_context,
    retrieve_chunks,
)
from building_a_rag_pipeline_with_airflow_spark.sources.index_layout import bucket_of

STRATEGIES = ("fixed", "recursive", "semantic")


def chunk_documents(docs: DataFrame, strategy: str = "fixed", **kw) -> DataFrame:
    """Strategy dispatch (reference T4, chromadb_rag.py:191-200)."""
    if strategy == "fixed":
        return chunking.chunk_fixed(docs, **kw)
    if strategy == "recursive":
        return chunking.chunk_recursive(docs, **kw)
    if strategy == "semantic":
        embed_fn = kw.pop("embed_fn", None) or hashed_embedder_udf(DEFAULT_DIM)
        return chunking.chunk_semantic(docs, embed_fn, **kw)
    raise ValueError(f"unknown strategy {strategy!r}; pick from {STRATEGIES}")


def build_index(
    docs: DataFrame,
    strategy: str = "fixed",
    dim: int = DEFAULT_DIM,
    embed_fn=None,
    keep_cols: tuple[str, ...] = (),
    html: bool = False,
) -> DataFrame:
    """documents → chunks → embeddings index DataFrame.

    ``html=True`` inserts :func:`functions.text.html_to_text` between the
    fetched documents and chunking — the cleanup the reference's S5 fetch
    path (raw ``response.text``, ``chromadb_rag.py:35-46``) skips, so its
    chunks carry markup. A codegen'd projection: no extra shuffle, no
    extra pass.

    Keeps doc metadata columns named in ``keep_cols`` (hybrid-search
    predicates); at scale, persist with
    ``index.write.partitionBy(*keep_cols).parquet(path)`` so V3 prefilters
    prune partitions."""
    if html:
        from building_a_rag_pipeline_with_airflow_spark.functions.text import html_to_text

        docs = docs.withColumn("text", html_to_text("text"))
    chunks = chunk_documents(docs, strategy)
    if keep_cols:
        meta = docs.select("doc_id", *keep_cols)
        chunks = chunks.join(F.broadcast(meta), "doc_id")
    return embed_documents(chunks, text_col="text", dim=dim, embed_fn=embed_fn)


def rag_query(
    index: DataFrame,
    query_text: str,
    k: int = 5,
    dim: int = DEFAULT_DIM,
    prefilter=None,
    diversity: "str | None" = None,
) -> DataFrame:
    """Query-time path: top-k retrieve + context assembly; returns one row
    (context, n_sources). ``diversity="mmr"`` swaps plain relevance top-k
    for maximal-marginal-relevance re-ranking (retrieval.mmr_rerank) —
    same distributed candidate scan, diversified final k.

    Either way the index is scanned once per request: the plain path is
    one job, and MMR adds only driver-local pair scoring and the context
    aggregate over the k selected rows."""
    if diversity == "mmr":
        from building_a_rag_pipeline_with_airflow_spark.operators.retrieval import mmr_rerank

        retrieved = mmr_rerank(index, query_text, k=k, dim=dim)
    elif diversity is not None:
        raise ValueError(f"unknown diversity mode: {diversity!r}")
    else:
        retrieved = retrieve_chunks(
            index, query_text, k=k, dim=dim, prefilter=prefilter
        )
    return assemble_context(retrieved)


def rag_pipeline(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    strategy: str = "fixed",
    k: int = 5,
    html: bool = False,
) -> DataFrame:
    """Full E1 flagship: load documents, index, retrieve. Returns the ranked
    top-k chunk DataFrame (rank, chunk_id, doc_id, score, text...).
    ``html=True`` strips HTML boilerplate before chunking (see
    :func:`build_index`) — the knob for corpora landed straight from the
    S5 fetch path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = build_index(docs, strategy=strategy, html=html)
    return retrieve_chunks(index, query_text, k=k)


N_DOC_BUCKETS = 64


def write_index_bucketed(
    index: DataFrame,
    path: str,
    n_doc_buckets: int = N_DOC_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Persist a chunk/embedding index partitioned by a stable doc-hash
    bucket (``doc_bucket = index_layout.bucket_of(doc_id, n)``) — the
    layout that makes DOCUMENT UPSERTS cheap: every chunk of one document
    lives in exactly one partition directory, so revising a document
    rewrites one bucket, not the index (see :func:`upsert_documents`).

    Size ``n_doc_buckets`` so a bucket is a few files at your corpus size;
    at 100 TB this is thousands, not 64."""
    (
        index.withColumn(
            "doc_bucket", bucket_of(F.col("doc_id").cast("string"), n_doc_buckets)
        )
        .repartition(n_doc_buckets, "doc_bucket")
        .write.mode(mode)
        .partitionBy("doc_bucket")
        .parquet(path)
    )


def upsert_documents(
    spark: SparkSession,
    path: str,
    changed_docs: DataFrame,
    strategy: str = "fixed",
    dim: int = DEFAULT_DIM,
    n_doc_buckets: int = N_DOC_BUCKETS,
) -> "list[int]":
    """Re-index REVISED (or new) documents into a
    :func:`write_index_bucketed` layout, rewriting ONLY the hash buckets
    those documents live in. Returns the rewritten bucket ids.

    The scale contract: cost is O(changed docs' buckets), never O(index).
    Plan per affected bucket: read the bucket's current rows, anti-join
    away every chunk of the changed doc ids (a revised document may have
    FEWER chunks than before — plain append-overwrite would leave stale
    tails), union the freshly chunked+embedded replacements, and rewrite
    just those partitions via dynamic partition overwrite. Readers see
    old-or-new per bucket (parquet has no multi-partition transaction —
    the same visibility contract as every dynamic-overwrite sink here);
    a table format (Delta/Iceberg) would make the swap atomic without
    changing this plan.

    An index built with ``build_index(keep_cols=...)`` keeps those doc
    columns: every stored column a plain build lacks and ``changed_docs``
    carries is passed on as ``keep_cols``.

    The affected buckets are those of the changed doc ids, not of their
    fresh chunks: a document revised to blank text has no chunks, and its
    old ones must still go. A bucket left with no rows at all is absent
    from the dynamic overwrite's output, so the write would keep its old
    files; such a bucket directory is deleted after the write."""
    doc_bucket = bucket_of(F.col("doc_id").cast("string"), n_doc_buckets)
    changed_ids = changed_docs.select("doc_id").distinct()
    affected = sorted(
        r.doc_bucket
        for r in changed_ids.select(doc_bucket.alias("doc_bucket")).distinct().collect()
    )  # bucket ids — metadata-scale driver list, becomes the partition filter
    if not affected:
        return []
    current = spark.read.parquet(path).where(F.col("doc_bucket").isin(affected))
    kept = current.join(F.broadcast(changed_ids), "doc_id", "left_anti")
    fresh = build_index(changed_docs, strategy=strategy, dim=dim)
    keep_cols = tuple(
        c for c in kept.columns
        if c not in fresh.columns and c in changed_docs.columns
    )
    if keep_cols:
        fresh = build_index(changed_docs, strategy=strategy, dim=dim, keep_cols=keep_cols)
    out = kept.unionByName(fresh.withColumn("doc_bucket", doc_bucket).select(*kept.columns))
    # one current file per affected bucket: a rewritten bucket loses it
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    pattern = f"{path.rstrip('/')}/doc_bucket={{{','.join(map(str, affected))}}}/*"
    probe_file = {
        st.getPath().getParent().getName(): st.getPath().toString()
        for st in fs.globStatus(Path(pattern)) or []
    }
    (
        out.repartition(len(affected), "doc_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("doc_bucket")
        .parquet(path)
    )
    for name in probe_file.values():
        stale = Path(name)
        if fs.exists(stale):  # not rewritten: no row of this bucket is left
            fs.delete(stale.getParent(), True)
    return affected


def read_index_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Read a bucketed index for querying (drops the layout column)."""
    return spark.read.parquet(path).drop("doc_bucket")
