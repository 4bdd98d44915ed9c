"""Document chunking operators — the reference's core transformation.

Three strategies, matching ``Chunking_Strats/chromadb_rag.py:49-93``:

* fixed-size sliding window (``chunk_document_simple``, :49-61) — pure SQL
  here: an index ``sequence`` + ``substring``, fully codegen'd, one row in →
  N rows out via ``explode`` with zero Python.
* recursive separator-cascade (``RecursiveTokenChunker``, :64-72) — genuinely
  imperative; implemented as a vectorized pandas_udf returning
  ``array<string>`` then exploded.
* semantic / Kamradt (``KamradtModifiedChunker``, :75-93 and
  ``kamredt_chunking.py:113-131``) — re-expressed as a multi-stage DataFrame
  plan: sentence-ish min-chunks → ±buffer combine → embed → consecutive
  cosine distance via a ``lead`` window → cut at the top-K distances
  (K = tokens // avg_chunk_size, the closed form of the reference's
  binary-searched threshold) → running-sum group ids → ``concat_ws``
  merge. Distributes cleanly: every window partitions by doc_id, so no
  cross-document shuffle coupling.

Scale note: chunking is embarrassingly parallel per document; the only
shuffles in this module are the per-doc windows in the semantic path, which
hash-partition on doc_id (no skew: documents are bounded in size).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from building_a_rag_pipeline_with_airflow_spark.functions.text import token_count
from building_a_rag_pipeline_with_airflow_spark.functions.vectors import cosine_similarity
from building_a_rag_pipeline_with_airflow_spark.operators import ensure_min_partitions

# Reference constants: chromadb_rag.py:28-29 (size 400, overlap 50).
CHUNK_SIZE = 400
CHUNK_OVERLAP = 50
SEPARATORS = ["\n\n", "\n", ".", "?", "!", " ", ""]  # chromadb_rag.py:70


def _finish(chunks: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Attach the canonical chunk columns (chunk_id, doc_id, chunk_index,
    text, char_length, token_length — the reference's chunks.json entry;
    chunk_id mirrors its f"{source_id}_chunk_{i}", chromadb_rag.py:116)."""
    return chunks.select(
        F.concat(F.col(id_col).cast("string"), F.lit("_chunk_"), F.col("chunk_index"))
        .alias("chunk_id"),
        F.col(id_col).alias("doc_id"),
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.col("chunk_text").alias("text"),
        F.length("chunk_text").cast("int").alias("char_length"),
        token_count(F.col("chunk_text")).alias("token_length"),
    )


def chunk_fixed(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Fixed-size character windows advancing by ``size - overlap``.

    Exact reference semantics (chromadb_rag.py:49-61): chunk i =
    text[i*step : i*step + size] for every start < len(text). Pure SQL —
    survives any scale; no shuffle at all (explode is narrow).
    """
    step = size - overlap
    text = F.col(text_col)
    n_chunks_minus1 = F.floor((F.length(text) - F.lit(1)) / F.lit(step)).cast("int")
    return _finish(
        ensure_min_partitions(docs).where(F.length(text) > 0)
        .select(
            F.col(id_col),
            text.alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks_minus1)).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            F.substring(
                F.col("_t"), F.col("chunk_index") * step + 1, size
            ).alias("chunk_text"),
        ),
        text_col,
        id_col,
    )


def _split_text_keep_sep(text: str, sep: str) -> list[str]:
    """Split ``text`` on ``sep`` keeping each separator attached to the START
    of the piece that follows it (keep_separator=True semantics of the public
    RecursiveCharacterTextSplitter that the reference's RecursiveTokenChunker
    vendors). ``sep == ""`` degrades to a per-character split."""
    import re

    if sep == "":
        return [c for c in text if c != ""]
    parts = re.split(f"({re.escape(sep)})", text)
    splits = [parts[i] + parts[i + 1] for i in range(1, len(parts), 2)]
    if len(parts) % 2 == 0:
        splits += parts[-1:]
    splits = [parts[0]] + splits
    return [s for s in splits if s != ""]


def _merge_splits(splits: list[str], separator: str, chunk_size: int,
                  chunk_overlap: int, length_fn) -> list[str]:
    """Greedy merge of small splits into ~chunk_size chunks with a
    pop-from-front overlap carry — the exact public _merge_splits loop
    (strict > test, separator-length accounting, strip-whitespace join,
    empty chunks dropped)."""
    separator_len = length_fn(separator)
    docs: list[str] = []
    current: list[str] = []
    total = 0
    for d in splits:
        d_len = length_fn(d)
        if total + d_len + (separator_len if current else 0) > chunk_size:
            if current:
                doc = separator.join(current).strip()
                if doc:
                    docs.append(doc)
                # Pop from the front until within the overlap budget AND the
                # incoming piece fits (or the buffer empties).
                while total > chunk_overlap or (
                    total + d_len + (separator_len if current else 0) > chunk_size
                    and total > 0
                ):
                    total -= length_fn(current[0]) + (
                        separator_len if len(current) > 1 else 0
                    )
                    current = current[1:]
        current.append(d)
        total += d_len + (separator_len if len(current) > 1 else 0)
    doc = separator.join(current).strip()
    if doc:
        docs.append(doc)
    return docs


def _recursive_split(text: str, chunk_size: int, chunk_overlap: int,
                     separators: list[str], length_fn) -> list[str]:
    """Separator-cascade splitter with the exact public semantics of the
    reference's RecursiveTokenChunker (Chunking_Strats/chromadb_rag.py:64-72,
    which instantiates the public chunking_evaluation RecursiveTokenChunker —
    a vendored LangChain RecursiveCharacterTextSplitter with
    keep_separator=True):

    * pick the first separator present in the text (last one as fallback);
    * split keeping separators attached to the following piece;
    * pieces with length < chunk_size (STRICT) accumulate into runs that are
      greedily merged with overlap carry; the merge joiner is "" because the
      separators are already embedded in the pieces;
    * an oversized piece breaks the run and recurses with the remaining
      separators (or is emitted raw when no separators remain).
    """
    if not text:
        return []
    final_chunks: list[str] = []
    separator = separators[-1]
    new_separators: list[str] = []
    for i, s in enumerate(separators):
        if s == "":
            separator = s
            break
        if s in text:
            separator = s
            new_separators = separators[i + 1 :]
            break
    splits = _split_text_keep_sep(text, separator)
    good: list[str] = []
    joiner = ""  # keep_separator=True: separators live inside the pieces
    for s in splits:
        if length_fn(s) < chunk_size:
            good.append(s)
        else:
            if good:
                final_chunks.extend(
                    _merge_splits(good, joiner, chunk_size, chunk_overlap, length_fn)
                )
                good = []
            if not new_separators:
                final_chunks.append(s)
            else:
                final_chunks.extend(
                    _recursive_split(s, chunk_size, chunk_overlap,
                                     new_separators, length_fn)
                )
    if good:
        final_chunks.extend(
            _merge_splits(good, joiner, chunk_size, chunk_overlap, length_fn)
        )
    return final_chunks


def recursive_split_py(text: str, chunk_size: int = CHUNK_SIZE,
                       chunk_overlap: int = CHUNK_OVERLAP,
                       separators: list[str] | None = None) -> list[str]:
    """Driver-callable single-string version (used by tests/goldens).

    Length function is whitespace token count — the reference measures with
    tiktoken cl100k_base (kamredt_chunking.py:48-50), unavailable here; the
    algorithm is identical, only the token metric differs (see README).
    """
    toks = lambda s: len(s.split())  # noqa: E731 — token length function
    return _recursive_split(
        text, chunk_size, chunk_overlap, separators or SEPARATORS, toks
    )


def chunk_recursive(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
    separators: list[str] | None = None,
) -> DataFrame:
    """Recursive separator-cascade chunking via a vectorized pandas_udf
    (1 row → N rows: array<string> + posexplode — the UDTF shape)."""
    seps = separators or SEPARATORS

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _split(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: recursive_split_py(t or "", chunk_size, chunk_overlap, seps)
        )

    # posexplode_outer, NOT posexplode: the non-outer Generate implies a
    # `size(arr) > 0` filter that Catalyst pushes below the repartition
    # exchange, evaluating the splitter UDF twice per row (once for the
    # filter, once for the explode — visible as two ArrowEvalPython nodes).
    # The outer variant generates no filter; the null row an empty doc
    # produces is dropped by a cheap post-filter instead.
    exploded = (
        ensure_min_partitions(docs)
        .select(F.col(id_col), _split(F.col(text_col)).alias("_chunks"))
        .select(
            id_col,
            F.posexplode_outer("_chunks").alias("chunk_index", "chunk_text"),
        )
        .where(F.col("chunk_index").isNotNull())
    )
    return _finish(exploded, text_col, id_col)


def chunk_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph chunking: split on blank lines, keep non-empty pieces.

    The SQL-expressible core of the recursive cascade's first level
    (separator "\\n\\n", chromadb_rag.py:70) — pure Catalyst (split +
    posexplode + filter), giving the T2 split semantics a full external
    oracle while the imperative cascade is pinned by golden tests. The
    split/explode/filter stages are narrow; densifying chunk_index after
    the empty-piece filter (row_number over a per-doc window) costs one
    hash exchange on doc_id — the same exchange every chunker pays in
    ``_finish``-style renumbering, and the only one in this path.
    """
    pieces = (
        ensure_min_partitions(docs)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), r"\n\n")).alias(
                "_pos", "_piece"
            ),
        )
        .where(F.trim("_piece") != "")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    return _finish(
        pieces.select(
            id_col,
            (F.row_number().over(w) - 1).alias("chunk_index"),
            F.trim("_piece").alias("chunk_text"),
        ),
        text_col,
        id_col,
    )


def chunk_semantic(
    docs: DataFrame,
    embed_fn,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_chunk_size: int = 300,
    min_chunk_size: int = 50,
    buffer_size: int = 3,
) -> DataFrame:
    """Semantic chunking with the public KamradtModifiedChunker semantics
    (reference: chromadb_rag.py:88-90 — avg_chunk_size=300, min_chunk_size=50;
    kamredt_chunking.py:113-131), re-expressed as a multi-stage DataFrame
    plan:

    1. initial sentences = the recursive cascade at chunk_size=min_chunk_size,
       overlap=0 (the reference instantiates RecursiveTokenChunker(min, 0));
    2. each sentence combined with its ±buffer_size neighbors (concat_ws over
       lag/lead windows) — the combined text is what gets embedded;
    3. cosine distance between CONSECUTIVE combined embeddings (lead window);
    4. cut count K = total_sentence_tokens // avg_chunk_size per doc; the
       reference binary-searches a threshold until at most K distances exceed
       it — equivalent to cutting at the top-K distances, i.e. at every
       distance strictly greater than the (K+1)-th largest (ties excluded,
       matching the search's strict `>` test). When K >= n_distances the
       search collapses to ~0 and every boundary cuts; both cases fall out of
       a null threshold here.
    5. group id = running count of preceding cuts; groups join with ' '.

    Every window partitions by doc_id — one hash exchange, no cross-document
    coupling; the embedder touches each sentence exactly once. Token metric
    is whitespace count (reference uses tiktoken — unavailable; see README).
    """

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sentences(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: _recursive_split(
                t or "", min_chunk_size, 0, SEPARATORS, lambda x: len(x.split())
            )
        )

    # posexplode_outer + null filter, same double-eval avoidance as
    # chunk_recursive (the implicit non-empty filter of a plain posexplode
    # pushes below the exchange and re-runs the sentence UDF).
    sent = (
        ensure_min_partitions(docs)
        .select(F.col(id_col), _sentences(F.col(text_col)).alias("_s"))
        .select(
            id_col, F.posexplode_outer("_s").alias("sent_idx", "sent_text")
        )
        .where(F.col("sent_idx").isNotNull())
    )

    w = Window.partitionBy(id_col).orderBy("sent_idx")
    neighbors = (
        [F.lag("sent_text", i).over(w) for i in range(buffer_size, 0, -1)]
        + [F.col("sent_text")]
        + [F.lead("sent_text", i).over(w) for i in range(1, buffer_size + 1)]
    )
    combined = sent.withColumn("_comb", F.concat_ws(" ", *neighbors)).withColumn(
        "_emb", embed_fn(F.col("_comb"))
    )
    with_dist = combined.withColumn("_next", F.lead("_emb").over(w)).withColumn(
        "dist",
        F.when(F.col("_next").isNull(), F.lit(None).cast("double")).otherwise(
            1.0 - cosine_similarity("_emb", "_next")
        ),
    )

    wd = Window.partitionBy(id_col)
    w_desc = Window.partitionBy(id_col).orderBy(F.col("dist").desc_nulls_last())
    cuts = (
        with_dist.withColumn(
            "_k",
            F.floor(
                F.sum(token_count(F.col("sent_text"))).over(wd)
                / F.lit(avg_chunk_size)
            ),
        )
        .withColumn("_rn", F.row_number().over(w_desc))
        .withColumn(
            "_thr",
            F.max(
                F.when(
                    (F.col("_rn") == F.col("_k") + 1) & F.col("dist").isNotNull(),
                    F.col("dist"),
                )
            ).over(wd),
        )
        .withColumn(
            # The reference's binary search stops at interval width 1e-6, so
            # it can never cut a distance below that floor (degenerate docs
            # whose ±buffer windows coincide give ~1e-16 noise distances);
            # null _thr (K >= n_distances) collapses the search to ~0 and
            # every materially-positive distance cuts. greatest(thr, 1e-6)
            # encodes both.
            "is_break",
            F.when(
                F.col("dist")
                > F.greatest(F.coalesce(F.col("_thr"), F.lit(0.0)), F.lit(1e-6)),
                1,
            ).otherwise(0),
        )
    )
    grouped = cuts.withColumn(
        "grp",
        F.coalesce(
            F.sum("is_break").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    merged = grouped.groupBy(id_col, "grp").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("sent_idx", "sent_text"))
            ).getField("sent_text"),
            " ",
        ).alias("chunk_text")
    ).withColumn("chunk_index", F.col("grp").cast("int")).drop("grp")
    return _finish(merged, text_col, id_col)


def chunk_stats(chunks: DataFrame, by: str = "doc_id") -> DataFrame:
    """Per-doc chunk statistics (reference analyze_chunks,
    kamredt_chunking.py:52-81): count / avg / min / max of char_length."""
    return chunks.groupBy(by).agg(
        F.count("*").cast("bigint").alias("chunk_count"),
        F.round(F.avg("char_length"), 4).alias("avg_chars"),
        F.min("char_length").alias("min_chars"),
        F.max("char_length").alias("max_chars"),
    )


def adjacent_overlap(chunks: DataFrame, size: int = CHUNK_SIZE,
                     overlap_step: int = CHUNK_SIZE - CHUNK_OVERLAP) -> DataFrame:
    """Position-based overlap between consecutive fixed chunks (replaces the
    reference's O(n²) pairwise scan, chunk_visualizer.py:420-459, with a lag
    window — the semantically meaningful adjacent case per
    kamredt_chunking.py:83-105)."""
    w = Window.partitionBy("doc_id").orderBy("chunk_index")
    prev_len = F.lag("char_length").over(w)
    # previous chunk spans [prev_start, prev_start+prev_len); current starts
    # at chunk_index*step — overlap = prev_end - cur_start, clipped at 0.
    cur_start = F.col("chunk_index") * overlap_step
    prev_start = (F.col("chunk_index") - 1) * overlap_step
    return chunks.select(
        "doc_id",
        "chunk_index",
        F.when(prev_len.isNull(), F.lit(0))
        .otherwise(F.greatest(prev_start + prev_len - cur_start, F.lit(0)))
        .cast("int")
        .alias("overlap_chars"),
    )
