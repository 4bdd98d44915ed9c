"""Continuous RAG ingestion: a landing directory of document files becomes
an ever-growing chunk/embedding index — plus the streaming GATES that keep
corpus statistics current as documents arrive.

The reference ingests on a schedule — an @daily Airflow DAG scrapes,
downloads, and rebuilds (``RAG_Pipeline/dags``, poll loops at :78-90) — so
fresh documents wait up to a day. The Spark-native twin is a file-source
stream over the landing directory feeding the SAME batch plan
(``pipeline.build_index``: chunk → embed) through ``foreachBatch``:

* **Why foreachBatch, not a pure streaming plan**: the chunkers need
  per-doc windows / pandas_udf stages that Structured Streaming's
  incremental planner rejects or would force into stateful form, but each
  document is chunked independently — there is no cross-batch state at
  all. ``foreachBatch`` hands every micro-batch to the batch planner
  (full Catalyst, AQE, the exact code the batch path runs) and the stream
  contributes what it's actually needed for: discovery of new files,
  bookkeeping, restart semantics.
* **Exactly-once into the index**: the sink appends parquet tagged with
  ``_batch_id``. Structured Streaming replays a failed batch with the
  SAME batch id after restart (checkpointed offsets), so re-runs
  overwrite-by-tag instead of duplicating: idempotent writes are the
  documented foreachBatch contract.
* **Scale**: each micro-batch is embarrassingly parallel per document;
  index partitions accumulate per batch. Compact/re-partition offline if
  small-file pressure builds (standard streaming-sink hygiene), or write
  ``partitionBy`` on a hybrid-search predicate column exactly like the
  batch index.

The gate protocol
-----------------
Every streaming gate here — PSI, expectations, embedding drift, NB,
quantile sketch, duplication, calibration, threshold curve, the
cluster-safe split and the classifier stamp — plus the index build
itself runs ONE protocol, implemented once
by the private helpers below; a gate supplies only its constants, its
per-batch partials and its fold.

1. **Freeze** (:func:`_freeze_state`). The constants a fold depends on
   are written at first invocation: frozen artifacts (PSI baseline bins,
   drift baseline sums, sketch baseline, split component map, stamp
   mapping) FIRST, ``<state>/meta`` LAST, so meta presence marks a
   complete initialization and a crash between the writes re-initializes
   on restart. An artifact's identity rides in meta as a
   :func:`_fingerprint`, so a later invocation compares the stored meta
   alone with what it was given and raises one ValueError naming what
   differs: partials or decisions frozen under other constants must
   never mix with new ones (use a fresh state path and checkpoint
   instead).
2. **Guard** (:func:`_start_gate`). Batch ids ``<= compacted_through``
   are skipped: :func:`compact_gate_state` already folded their partials
   into the ``_batch_id = -1`` base, and re-writing them beside it would
   double-count.
3. **Skip**. Empty micro-batches write nothing.
4. **Partial write**. A batch writes only its own partials under
   ``<state>/<subdir>/_batch_id=N`` with dynamic partition overwrite
   (``index_layout._write_tagged``), so a replayed batch id replaces its
   own rows: per-batch cost is O(batch), never O(history).
5. **Read fold** (:func:`_fold_state`). Each state subdir has ONE fold
   in :data:`_STATE_LAYOUTS` — sums per group, a global bottom-k, or a
   union — applied by the one fold of the index and gate families,
   ``index_layout._fold_partials``. A reader folds its partials through
   it, then finishes them into exactly what the batch operator returns
   over the accumulated stream. A started gate whose stream has
   delivered no non-empty batch has no partials yet: the reader then
   returns the batch operator's empty-input answer where the state can
   build it, and raises a ValueError otherwise — never a raw
   PATH_NOT_FOUND.
6. **Compact** (:func:`compact_gate_state`). Offline, single-writer: the
   per-batch partitions fold through the SAME fold into one base
   partition at a new path, so the compacted state reads exactly like
   the uncompacted one, and ``compacted_through`` lands in the new meta
   for step 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators.sampling import _md5_slice60
from building_a_rag_pipeline_with_airflow_spark.pipeline import build_index
from building_a_rag_pipeline_with_airflow_spark.session import local_frame
from building_a_rag_pipeline_with_airflow_spark.sources import index_layout


def _fingerprint(df: DataFrame) -> "tuple[int, int]":
    """``(row count, order-independent checksum)`` of ``df`` — identity of
    a frozen artifact too large to collect. Each field is md5-hashed
    BEFORE combining (hex digests cannot contain a separator, so
    ``('a\\x1fb', 'c')`` and ``('a', 'b\\x1fc')`` cannot collide the way a
    raw concat would; NULL gets a non-hex sentinel distinct from '');
    rows xor-fold, so partitioning and order do not matter."""
    field = lambda c: F.coalesce(F.md5(F.col(c).cast("string")), F.lit("~"))
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.bit_xor(_md5_slice60(F.concat(*map(field, df.columns)))),
            F.lit(0),
        ).alias("fp"),
    ).first()
    return int(row["n"]), int(row["fp"])


def _state_subdirs(spark: SparkSession, state_path: str) -> "dict[str, set[int]]":
    """Each subdir of a state directory mapped to the ``_batch_id``
    values of its partition directories (none for meta and frozen
    artifacts); ``{}`` before anything is written. A filesystem listing,
    no data read."""
    root = spark._jvm.org.apache.hadoop.fs.Path(state_path.rstrip("/"))
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    return {
        st.getPath().getName(): {
            int(c.getPath().getName().split("=", 1)[1])
            for c in fs.listStatus(st.getPath())
            if c.isDirectory() and c.getPath().getName().startswith("_batch_id=")
        }
        for st in fs.listStatus(root)
        if st.isDirectory()
    }


def _freeze_state(
    spark: SparkSession,
    state_path: str,
    who: str,
    frozen: tuple,
    ddl: str,
    artifacts=(),
    why: str = "state frozen under other constants must never mix with new partials",
    loose=(),
) -> int:
    """Protocol step 1, freeze-or-check. ``frozen`` is the meta row in
    ``ddl`` column order, carrying the :func:`_fingerprint` of any
    artifact whose identity matters; ``artifacts`` are ``(subdir,
    frame)`` pairs frozen beside it. First invocation: artifacts, then
    meta — unless the directory already holds ``_batch_id`` partials
    without meta (state written before its gate froze meta, or a crashed
    compaction), which raises instead of re-initializing over them.
    Later invocations compare meta only: every field not named in
    ``loose`` must equal its ``frozen`` value, else ValueError naming
    the field (``why`` says what mixing would break). Returns
    ``compacted_through`` (-1 until the state is compacted)."""
    meta_df = spark.createDataFrame([frozen], ddl)
    meta = index_layout.read_meta_or_none(spark, state_path)
    if meta is None:
        stale = sorted(s for s, ids in _state_subdirs(spark, state_path).items() if ids)
        if stale:
            raise ValueError(
                f"{who}: {state_path} holds per-batch partials in {stale} but "
                "no meta, so they cannot be checked against this invocation's "
                "constants (state written before its gate froze meta, or a "
                "crashed compaction). Use a fresh state_path (and checkpoint)."
            )
        for sub, df in artifacts:
            df.write.mode("overwrite").parquet(f"{state_path}/{sub}")
        index_layout.write_meta(meta_df, state_path)
        return -1
    stored = meta.asDict()
    for name, want in zip(meta_df.columns, frozen):
        if name not in loose and stored.get(name) != want:
            raise ValueError(
                f"{who}: {state_path} froze {name}={stored.get(name)!r} but "
                f"this invocation gives {want!r} — {why}. Use a fresh "
                "state_path (and checkpoint) to change it."
            )
    return int(stored.get("compacted_through", -1))


def _start_gate(
    stream: DataFrame,
    checkpoint_path: str,
    compacted_through: int,
    write_partials,
    available_now: bool,
):
    """Protocol steps 2-4: start the checkpointed ``foreachBatch`` query
    whose batches skip already-compacted ids and empty frames, handing
    the rest to ``write_partials(batch_df, batch_id)``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > compacted_through and not batch_df.isEmpty():
            write_partials(batch_df, batch_id)

    return index_layout.start_extender(
        stream, checkpoint_path, write_batch, available_now
    )


def _read_partials(
    spark: SparkSession, state_path: str, subdir: str, who: str, empty=None
) -> DataFrame:
    """Protocol step 5's input: the partials under ``<state>/<subdir>``.
    When the stream has delivered no non-empty batch there is nothing
    there yet; then ``empty`` stands in — a DDL string or schema for zero
    rows, or a callable building the frame — and without it the read
    raises a ValueError saying so."""
    path = f"{state_path}/{subdir}"
    rows = index_layout._read_or_none(spark, path)
    if rows is not None:
        return rows
    if empty is None:
        raise ValueError(
            f"{who}: {path} holds NO verdicts or partials yet — the "
            "stream has delivered zero non-empty batches. Drain the "
            "landing stream first (or check it is pointed at the right "
            "directory)."
        )
    return empty() if callable(empty) else local_frame(spark, [], empty)


def _bottomk_fold(raw: DataFrame, meta) -> DataFrame:
    """The sketch's fold: the global bottom-k of the accumulated
    samples (each global minimum is among its own batch's k minima)."""
    return (
        raw.drop("_batch_id")
        .orderBy(F.asc_nulls_last("_prio"), F.asc_nulls_last(meta["id_col"]))
        .limit(int(meta["k"]))
    )


# One fold map per gate: each state subdir's index_layout._fold_partials
# fold, or "copy" for a frozen artifact that compaction rewrites
# verbatim. Readers fold through their gate's entry (_fold_state) and
# compact_gate_state through the same one, so a compacted state reads
# exactly like the uncompacted one. PSI's entry serves its reader only:
# its per-batch partitions are read_psi_trend's product, and its
# uncovered baseline makes compact_gate_state refuse to fold them.
_STATE_LAYOUTS = {
    "psi": {"batches": (("bin",), ("n_new",))},
    "expectations": {
        "batches": (("expectation", "kind", "col_name"), ("n_violations", "n_rows"))
    },
    "embedding_drift": {
        "batches": (("_p",), ("sum_v", "n", "sum_norm")), "baseline": "copy"
    },
    "duplication": {"partials": (("h",), ("c",)), "totals": ((), ("n_windows",))},
    "calibration": {"partials": (("bin",), ("n", "sum_p", "sum_y"))},
    "threshold": {"partials": (("threshold",), ("n", "pos"))},
    "nb": {
        "token_counts": (("_lbl", "b"), ("n",)),
        "doc_counts": (("_lbl",), ("n_docs",)),
    },
    "sketch": {"batches": _bottomk_fold, "baseline": "copy"},
    "split": {"batches": "concat", "components": "copy"},
    "stamp": {"batches": "concat", "mapping": "copy"},
}


def _fold_state(
    spark: SparkSession, state_path: str, gate: str, subdir: str, who: str,
    empty=None, meta=None,
) -> DataFrame:
    """Protocol step 5: the partials of ``<state>/<subdir>``
    (:func:`_read_partials`, ``empty`` included) folded by ``gate``'s
    :data:`_STATE_LAYOUTS` entry; ``meta`` feeds a callable fold."""
    return index_layout._fold_partials(
        _read_partials(spark, state_path, subdir, who, empty),
        _STATE_LAYOUTS[gate][subdir], meta,
    )


def read_documents_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 8,
    schema=None,
) -> DataFrame:
    """File-source stream over a documents landing directory.

    Streaming sources need an explicit schema. Pass ``schema`` (a
    StructType or DDL string) to start the stream BEFORE the first file
    lands — the normal continuous-ingestion deployment order; when omitted
    it is inferred from files already present (one footer read, no data
    scan), which requires the directory to be non-empty at start and raises
    AnalysisException otherwise."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_build_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    strategy: str = "fixed",
    dim: int | None = None,
    available_now: bool = True,
):
    """Start the ingestion query: new document files → chunk → embed →
    the parquet index at ``index_path``, one ``_batch_id`` partition per
    micro-batch (protocol steps 3-4, so a replay overwrites its own rows).

    Returns the ``StreamingQuery``; with ``available_now`` the query
    drains everything currently in the landing directory and stops —
    restartable from the same checkpoint when more files land (the
    batch-interval analog of the reference's @daily trigger, minus the
    latency)."""
    kw = {} if dim is None else {"dim": dim}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            build_index(batch_df, strategy=strategy, **kw), index_path, batch_id
        )

    return _start_gate(docs_stream, checkpoint_path, -1, write_batch, available_now)


def load_streaming_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Read the accumulated index (drops the bookkeeping column) — feeds
    ``pipeline.rag_query`` exactly like the batch-built index."""
    return spark.read.parquet(index_path).drop("_batch_id")


def streaming_extend_ivf_index(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    available_now: bool = True,
):
    """Keep a :func:`~building_a_rag_pipeline_with_airflow_spark.operators.\
similarity.build_ivf_index` layout fresh: assign each micro-batch of new
    vectors to the EXISTING centroids and append into the same
    ``cell_id=N`` partition directories.

    This is how IVF indexes grow in production — assignment is cheap
    (broadcast centroids, one pass over the batch), re-clustering is an
    offline decision made when cell-balance statistics drift, not per
    arrival. Queries through ``query_ivf_index`` see new vectors as soon
    as their batch commits, with the identical pruned-probe plan; a
    replayed batch id overwrites its own rows via the ``_batch_id`` tag
    (same idempotence contract as :func:`streaming_build_index`)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.similarity import (
        _ivf_rows,
        ivf_assign,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        centroids = spark.read.parquet(f"{index_path}/centroids")
        stored = spark.read.parquet(f"{index_path}/vectors").schema
        # Conform incoming columns to the stored layout's types BEFORE
        # the assignment (bloom key-type rule: normalize at the
        # boundary): an array<double> batch appended to an array<float>
        # base writes parquet files the unified multi-batch scan cannot
        # read at all (PARQUET_COLUMN_DATA_TYPE_MISMATCH). Done through
        # the family's _conform_to_existing — NOT an inline cast — so an
        # integral-NARROWING id (bigint batch into an int-id base)
        # RAISES here exactly like every other durable-index extension
        # path, instead of wrapping silently before write_index_rows'
        # own conformance could catch it.
        batch_df = index_layout._conform_to_existing(
            batch_df,
            f"{index_path}/vectors",
            skip=("cell_id",),
            stored_schema=stored,  # already read for the _codes probe
        )
        # match the existing layout: a quantized base index (int8 codes +
        # scale) must be extended with the same coded schema
        index_layout.write_index_rows(
            _ivf_rows(
                ivf_assign(batch_df, centroids, c_id, c_vec), c_vec,
                "_codes" in stored.names,
            ),
            f"{index_path}/vectors",
            partition_cols=("cell_id",),
            batch_id=batch_id,
            extend=True,
        )

    return _start_gate(vec_stream, checkpoint_path, -1, write_batch, available_now)


def streaming_extend_shingle_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Keep a :func:`~building_a_rag_pipeline_with_airflow_spark.operators.\
dedup.build_shingle_index` layout fresh — the text-side twin of
    :func:`streaming_extend_ivf_index`: each micro-batch of NEW documents
    shingles once and appends into the same ``bucket=B`` partition
    directories under its own ``_batch_id`` (dynamic overwrite → replayed
    batches are idempotent). The contract is append-only new doc ids, the
    same as the IVF side's new-vector contract.

    The batch writes its own batch-local ``shingle_df`` (the stored column
    stays schema-compatible) and flips ``meta.extended`` to true, which
    tells ``jaccard_pairs_from_index`` to stop trusting stored doc-freqs
    and recount in-plan — a shingle can cross ``max_posting`` only across
    batches, and a pushed predicate over batch-local counts would miss it.
    Re-running ``build_shingle_index`` (offline, like IVF re-clustering)
    restores the pushed-guard fast path.

    Mechanics (zero-row skips, the flip-meta-first crash ordering,
    replay-idempotent bucketed write, checkpoint release on every path)
    live in ONE place —
    :func:`~building_a_rag_pipeline_with_airflow_spark.sources.\
index_layout.start_postings_extender` — which derives each batch with
    the builder's own spec (``dedup._SHINGLE_POSTINGS``)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.dedup import _SHINGLE_POSTINGS

    return index_layout.start_postings_extender(
        docs_stream, index_path, checkpoint_path, _SHINGLE_POSTINGS,
        {"text_col": text_col, "id_col": id_col}, available_now,
    )


def streaming_extend_substring_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Keep a :func:`~building_a_rag_pipeline_with_airflow_spark.operators.\
dedup.build_substring_index` layout fresh — the ExactSubstr twin of
    :func:`streaming_extend_shingle_index`: each micro-batch of NEW
    documents window-hashes once (the index's frozen k and
    max_doc_tokens) and appends (h, doc_id, pos, h_count) rows into the
    same ``bucket=B`` directories under its own ``_batch_id`` (dynamic
    overwrite → replayed batches are idempotent). Contract: append-only
    new doc ids, same as every other extender.

    The batch writes its own batch-local ``h_count`` (schema-compatible)
    and flips ``meta.extended``, which tells :func:`spans_from_index` to
    stop trusting stored counts and recount in-plan — a window that
    repeats only ACROSS batches (exactly the duplication an incremental
    corpus grows) would evade a pushed batch-local predicate. Re-running
    ``build_substring_index`` offline restores the pushed fast path.

    One spec (``dedup._SUBSTRING_WINDOWS``) derives the build's and each
    batch's windows through
    :func:`~building_a_rag_pipeline_with_airflow_spark.sources.\
index_layout.start_postings_extender` (a non-empty batch can still
    window to NOTHING — every doc below the frozen k, or above
    max_doc_tokens — and must skip without flipping the fast path)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.dedup import _SUBSTRING_WINDOWS

    return index_layout.start_postings_extender(
        docs_stream, index_path, checkpoint_path, _SUBSTRING_WINDOWS,
        {"text_col": text_col, "id_col": id_col}, available_now,
    )


def streaming_extend_trigram_index(
    names_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    c_id: str = "name_id",
    c_text: str = "name",
    available_now: bool = True,
):
    """Keep a :func:`~building_a_rag_pipeline_with_airflow_spark.operators.\
linkage.build_trigram_index` layout fresh — the fuzzy-search twin of
    :func:`streaming_extend_shingle_index`: each micro-batch of NEW
    names gram-explodes once and appends (gram, name_id, n_grams,
    gram_df) postings into the same ``bucket=B`` directories under its
    own ``_batch_id`` (dynamic overwrite → replayed batches are
    idempotent), plus the batch's (name_id, name) payload rows.
    Contract: append-only new name ids, like every other extender.

    The batch writes batch-local ``gram_df`` (schema-compatible) and
    flips ``meta.extended``, which tells ``trigram_topk_from_index`` to
    stop trusting the stored doc-freqs and recount in-plan — a gram can
    cross ``max_posting`` only across batches. ``n_grams`` is per-name
    (each name's grams land whole inside one batch), so it is ALWAYS
    exact — only the corpus-wide statistic degrades to recount.
    Re-running ``build_trigram_index`` offline restores the pushed-guard
    fast path.

    One spec (``linkage._TRIGRAM_POSTINGS``) derives the build's and each
    batch's postings through
    :func:`~building_a_rag_pipeline_with_airflow_spark.sources.\
index_layout.start_postings_extender`; the (name_id, name) payload
    rows ride as its side table (ALL rows of a batch that derives any
    posting — the payload mirrors the corpus, the postings mirror its
    grams; NULL names gram to nothing, so a batch of ONLY NULL names is
    a zero-derive skip like an all-blank ExactSubstr batch — it writes
    neither postings nor payload and leaves the pushed-guard fast path
    untouched)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.linkage import _TRIGRAM_POSTINGS

    return index_layout.start_postings_extender(
        names_stream, index_path, checkpoint_path, _TRIGRAM_POSTINGS,
        {"c_id": c_id, "c_text": c_text}, available_now,
    )


def streaming_extend_postings_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Keep a :func:`~building_a_rag_pipeline_with_airflow_spark.operators.\
lexical.build_postings_index` layout fresh — the BM25 twin of
    :func:`streaming_extend_shingle_index`: each micro-batch of NEW
    documents tokenizes once and appends its (doc, term, tf, df_t, dl)
    postings into the same ``bucket=B`` directories under its own
    ``_batch_id`` (dynamic overwrite → replayed batches are idempotent).
    Contract: append-only new doc ids, same as the IVF/shingle sides.

    Stored ``df_t`` is batch-local after extension, and BM25 — unlike the
    shingle index's stop-shingle guard — also depends on the corpus-wide
    ``n_docs``/``avgdl``. Both are handled replay-safely: the batch writes
    one ``batch_stats/_batch_id=N`` row (its doc count and token sum) via
    the same dynamic overwrite, and flips ``meta.extended``, which makes
    ``bm25_topk_from_index`` (a) recount df over its already-pruned scan
    and (b) derive n_docs/avgdl by summing the per-batch rows — exact,
    and a replayed batch overwrites its own row instead of double-
    counting. Re-running ``build_postings_index`` offline restores the
    stored-df fast path.

    One spec (``lexical._BM25_POSTINGS``) derives the build's and each
    batch's postings through
    :func:`~building_a_rag_pipeline_with_airflow_spark.sources.\
index_layout.start_postings_extender` — which also gives this extender
    the family's zero-derive skip (a batch of all-blank docs contributes
    no postings AND no docs to n_docs: ``_tokenized`` filters blank docs
    on the in-plan side too, so skipping preserves from-index ≡ in-plan)
    and the flip-meta-first crash ordering (the reverse gap is safe
    because the build's base batch_stats row (-1) reproduces meta's
    n_docs/avgdl exactly). The per-batch (n_docs, sum_dl) stats row
    rides as the side table, derived from the SAME checkpointed posting
    rows as the postings (one tokenization pass per batch)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.lexical import _BM25_POSTINGS

    return index_layout.start_postings_extender(
        docs_stream, index_path, checkpoint_path, _BM25_POSTINGS,
        {"id_col": id_col, "text_col": text_col}, available_now,
    )


def streaming_psi(
    events_stream: DataFrame,
    baseline_df: DataFrame,
    value_col: str,
    state_path: str,
    checkpoint_path: str,
    n_bins: int = 10,
    available_now: bool = True,
):
    """Streaming drift gate: PSI of the incoming stream against a frozen
    BASELINE distribution — the continuous form of
    :func:`operators.drift.psi_profile`.

    ``n_bins`` and the baseline's quantile bin bounds freeze in meta; the
    baseline's bin counts freeze in ``<state_path>/baseline`` (n_bins
    rows, with the bounds as ``_bounds``). Each batch bins its rows
    against those bounds with the batch operator's own bin expression
    and writes per-bin counts under ``batches/``. :func:`read_psi_report`
    folds them through the batch operator's own finisher into the
    per-bin frame it computes over the accumulated stream
    (parity-tested)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import drift

    bounds = [
        float(x)
        for x in drift._psi_bounds(baseline_df, value_col, n_bins).first()["_bs"]
    ]
    arr = F.array(*map(F.lit, bounds))

    def binned(df: DataFrame, n_col: str) -> DataFrame:
        return (
            df.select(drift._psi_bin(F.col(value_col).cast("double"), arr).alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("bigint").alias(n_col))
        )

    compacted_through = _freeze_state(
        baseline_df.sparkSession, state_path, "streaming_psi",
        (int(n_bins), bounds), "n_bins int, bounds array<double>",
        artifacts=[
            ("baseline", binned(baseline_df, "n_base")
             .withColumn("_bounds", F.lit(str(bounds))).coalesce(1))
        ],
        why="accumulated batch counts binned under other bounds would mix "
        "incompatible bin definitions; re-baseline under a fresh state",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            binned(batch_df, "n_new"), f"{state_path}/batches", batch_id
        )

    return _start_gate(
        events_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_psi_report(
    spark: SparkSession, state_path: str, eps: float = 1e-6
) -> DataFrame:
    """Fold the streamed per-batch bin counts against the frozen baseline
    into the current PSI profile — `drift.psi_profile`'s own finisher
    over the accumulated (bin, n_base, n_new) cells, so schema and values
    match the batch operator over the same rows (parity-tested). One
    aggregate over (bins × batches) metadata-scale rows; no raw-data
    rescan. Like the batch operator over an empty sample, it raises a
    ValueError before the first non-empty batch."""
    from building_a_rag_pipeline_with_airflow_spark.operators import drift

    index_layout.read_meta(spark, state_path)  # refuses uninitialized state
    base = spark.read.parquet(f"{state_path}/baseline").select(
        "bin", "n_base"
    )
    streamed = _fold_state(spark, state_path, "psi", "batches", "read_psi_report")
    cells = base.join(streamed, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return drift._psi_finish(cells, eps)


def streaming_extend_phash_index(
    media_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    data_col: str = "data",
    id_col: str = "media_id",
    available_now: bool = True,
):
    """Keep a ``multimodal.build_phash_index`` layout fresh — the MEDIA
    twin of the shingle/postings/IVF extensions: each micro-batch of NEW
    media rows hashes once (Arrow-batched; payloads never leave the
    batch) and appends its band rows into the same ``band_i=I``
    partition directories under its own ``_batch_id`` (dynamic overwrite
    → replayed batches are idempotent). No extended-mode meta flip is
    needed: the pairs query derives bucket sizes in-plan from the stored
    rows, so there is no batch-local denormalized statistic to go
    stale."""
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as _mm

    def derive(batch_df: DataFrame, p: dict) -> DataFrame:
        # an empty batch, or one whose payloads are all NULL
        # (perceptual_hash excludes them), hashes to NOTHING and is
        # skipped; the skeleton pins the band rows, so the zero-row probe
        # and the write do not each re-run the perceptual-hash pandas UDF
        # (the phash_near_dups recompute-per-reference trap)
        hashed = _mm.perceptual_hash(batch_df, data_col=data_col, id_col=id_col)
        return _mm._phash_band_rows(hashed, int(p["n_bands"]), id_col=id_col)

    def write(batch_df: DataFrame, rows: DataFrame, p: dict, batch_id: int) -> None:
        index_layout.write_index_rows(
            rows, f"{index_path}/bands", partition_cols=("band_i",),
            sort_col="band_v", n_files=int(p["n_bands"]),
            batch_id=batch_id, extend=True,
        )

    return index_layout.start_pinned_extender(
        media_stream, index_path, checkpoint_path, derive, write, available_now
    )


def read_psi_trend(
    spark: SparkSession, state_path: str, eps: float = 1e-6
) -> DataFrame:
    """Per-batch PSI time series from the streamed state — the drift
    TRAJECTORY (is the stream drifting away batch over batch, or did one
    bad batch spike?), where :func:`read_psi_report` gives the
    accumulated-stream snapshot. One row per ``_batch_id`` with that
    batch's own PSI vs the frozen baseline: a join of the
    (bins × batches) partial rows against the n_bins baseline frame plus
    one grouped fold — metadata-scale, no raw-data rescan. No batch yet,
    no row yet: the trend of a stream that delivered nothing is empty."""
    from building_a_rag_pipeline_with_airflow_spark.operators import drift

    index_layout.read_meta(spark, state_path)  # refuses uninitialized state
    base = spark.read.parquet(f"{state_path}/baseline").select(
        "bin", "n_base"
    )
    tb = base.agg(F.sum("n_base").cast("double").alias("_ta"))
    batches = _read_partials(
        spark, state_path, "batches", "read_psi_trend",
        "bin int, n_new bigint, _batch_id int",
    )
    # full grid: every (batch, baseline bin) plus any batch-only bins
    grid = (
        batches.select("_batch_id")
        .distinct()
        .crossJoin(base)
        .join(batches, ["_batch_id", "bin"], "full_outer")
        .select(
            "_batch_id",
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    per_batch_tot = grid.groupBy("_batch_id").agg(
        F.sum("n_new").cast("double").alias("_tb")
    )
    _pa, _pb, contrib = drift._psi_terms(eps)
    return (
        grid.join(per_batch_tot, "_batch_id")
        .crossJoin(F.broadcast(tb))
        .groupBy(F.col("_batch_id").alias("batch_id"))
        .agg(
            F.sum("n_new").cast("bigint").alias("n_rows"),
            (F.round(F.sum(contrib) * 1_000_000) / 1_000_000).alias("psi"),
        )
        .orderBy("batch_id")
    )


def streaming_duplication_profile(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    bands: "tuple[int, ...]" = (2, 10, 100),
    max_doc_tokens: "int | None" = 100_000,
    count_floor: int = 1,
    available_now: bool = True,
):
    """Streaming corpus-duplication gate: the continuous form of
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.dedup.duplication_profile`,
    so the corpus datasheet's duplication curve tracks the stream as it
    grows and feeds ``min_count`` selection for the ExactSubstr scrub
    without a corpus rescan.

    Window-hash counts are mergeable sums: each batch window-hashes its
    rows once (the shared ``_window_hashes`` explode — the same per-batch
    cost the substring-index extender pays) and writes (h, c) per-hash
    count ``partials`` plus one exact ``totals`` row (n_windows).
    :func:`read_duplication_profile` sums counts per hash, then runs the
    batch operator's OWN band fold (``dedup._duplication_bands``), and at
    ``count_floor=1`` equals the batch profile over the accumulated stream
    exactly (parity-tested).

    STATE SIZE is the one divergence from the other gates' metadata-
    scale partials: exact cross-batch counting needs per-hash rows, so
    partials are O(distinct window hashes in the batch) — band-folding
    them per batch would break mergeability (a hash repeating once per
    batch across five batches IS a 5× duplicate). ``count_floor > 1``
    bounds state by dropping hashes whose PER-BATCH count is below the
    floor, at a documented cost: duplication that only accumulates
    across batches under the floor is missed, so the folded dup bands
    become a LOWER bound; ``n_windows`` (and hence the denominator of
    ``frac_dup_windows``) stays exact via the totals rows, which are
    written from the pre-floor counts.

    Frozen in meta: ``(k, bands, max_doc_tokens, count_floor)`` —
    partials from different window sizes or floors never fold together."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        dedup as _dd,
        pinned,
    )

    who = "streaming_duplication_profile"
    blist = _dd._check_profile_bands(bands, who)
    _dd._check_substring_params(k, None, who)
    if int(count_floor) < 1:
        raise ValueError(
            f"{who}: count_floor must be >= 1, got {count_floor} "
            "(1 keeps every hash — the exact mode)"
        )
    compacted_through = _freeze_state(
        docs_stream.sparkSession, state_path, who,
        (
            int(k),
            [int(c) for c in blist],  # typed array<int>, never a repr string
            -1 if max_doc_tokens is None else int(max_doc_tokens),
            int(count_floor),
        ),
        "k int, bands array<int>, max_doc_tokens long, count_floor int",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        wins = _dd._window_hashes(
            batch_df, text_col, id_col, int(k), max_doc_tokens
        )
        counts = wins.groupBy(F.col("_h").alias("h")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        with pinned(counts) as counts:  # totals + floor + write: 3 refs
            # a non-empty batch can still derive ZERO windows (all-blank
            # docs, every doc under the frozen k): the batch operator over
            # the accumulated rows sees them contribute nothing too
            if counts.isEmpty():
                return
            # totals land BEFORE partials: a crash between the two writes
            # leaves a denominator that includes a batch whose dup counts
            # are missing — a consistent LOWER bound, the gate's stated
            # semantics — where the reverse order could report a fraction
            # above 1. The replay rewrites both, so the gap always heals.
            index_layout._write_tagged(
                counts.agg(F.sum("c").cast("bigint").alias("n_windows")),
                f"{state_path}/totals", batch_id, coalesce=1,
            )
            partial = counts.where(F.col("c") >= int(count_floor))
            # a floor > 1 can eat EVERY hash of a batch; a partitioned
            # write of nothing would leave a schema-less directory
            if not partial.isEmpty():
                index_layout._write_tagged(
                    partial, f"{state_path}/partials", batch_id
                )

    return _start_gate(
        docs_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_duplication_profile(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-batch window-hash partials into the current
    duplication curve — identical output schema (and, at
    ``count_floor=1``, identical values — parity-tested) to
    ``dedup.duplication_profile`` run batch-side over the accumulated
    stream. One sum-per-hash aggregation over the partials plus the
    SHARED band fold (``dedup._duplication_bands``); no raw-document
    rescan. ``n_windows`` comes from the exact per-batch totals rows, so
    the duplicated-fraction denominator is exact even under a count
    floor; with no partials or totals yet (every hash floored away, or
    no non-empty batch) the fold is the batch operator's all-zero bands."""
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup as _dd

    who = "read_duplication_profile"
    meta = index_layout.read_meta(spark, state_path)
    blist = [int(c) for c in meta["bands"]]  # stored as array<int>
    counts = _fold_state(
        spark, state_path, "duplication", "partials", who, "h string, c bigint"
    ).withColumnsRenamed({"h": "_h", "c": "_c"})
    tot = _fold_state(
        spark, state_path, "duplication", "totals", who, "n_windows bigint"
    ).select(F.coalesce("n_windows", F.lit(0)).alias("n_windows"))
    return _dd._duplication_bands(spark, counts, blist, tot)


def streaming_calibration(
    scored_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    *,
    prob_col: str = "p",
    label_col: str = "y",
    n_bins: int = 10,
    available_now: bool = True,
):
    """Streaming classifier-calibration gate: the continuous form of
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.evaluation.calibration_report`,
    so a probability-thresholded curation gate's reliability audit
    tracks the stream instead of demanding a corpus rescan (a classifier
    that was calibrated on last month's distribution quietly isn't on
    this month's — exactly a drift-family concern).

    Per-bin (n, sum_p, sum_y) are mergeable sums (finished means are
    not): each batch bins its rows through the SAME guard + bin core the
    batch operator uses (``evaluation._calibration_partials`` — stream ≡
    batch parity by construction) into ≤ n_bins ``partials`` rows.
    ``n_bins`` is frozen in meta. :func:`read_calibration_report` folds
    the partials into the SAME all-bins frame the batch operator emits."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        evaluation as _ev,
    )

    who = "streaming_calibration"
    if int(n_bins) < 1:
        raise ValueError(f"{who}: n_bins must be >= 1, got {n_bins}")
    compacted_through = _freeze_state(
        scored_stream.sparkSession, state_path, who, (int(n_bins),), "n_bins int"
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            _ev._calibration_partials(batch_df, prob_col, label_col, n_bins, who=who),
            f"{state_path}/partials",
            batch_id,
        )

    return _start_gate(
        scored_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_calibration_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-batch calibration partials into the current
    reliability frame — identical output schema and values
    (parity-tested in the gate-family contract) to
    ``evaluation.calibration_report`` run batch-side over the
    accumulated stream. One sum over (n_bins × batches) metadata-scale
    rows plus the SHARED frame finisher; before the first non-empty
    batch it is the all-zero-bins frame, as the batch operator's."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        evaluation as _ev,
    )

    nb = int(index_layout.read_meta(spark, state_path)["n_bins"])
    sums = _fold_state(
        spark, state_path, "calibration", "partials", "read_calibration_report",
        "bin int, n bigint, sum_p double, sum_y double",
    )
    return _ev._calibration_frame(spark, sums, nb)


def streaming_threshold_curve(
    scored_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    *,
    prob_col: str = "p",
    label_col: str = "y",
    decimals: int = 4,
    available_now: bool = True,
):
    """Streaming keep/drop threshold-curve gate: the continuous form of
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.evaluation.threshold_curve`,
    so the DECISION TABLE a probability-thresholded curation gate cuts
    on tracks the stream instead of demanding a corpus rescan (the
    calibration gate audits whether the scores mean what they say; this
    one keeps the cost/benefit curve of any cut over them current —
    together they are the streaming end of audit → fit → cut).

    Unlike the per-query rank metrics, whose non-membership in the
    family is a documented negative result (SURVEY.md), the curve's
    per-grid-score ``(n, pos)`` counts ARE mergeable sums: each batch
    rounds its rows onto the fixed grid through the SAME guard + grid
    core the batch operator uses (``evaluation._threshold_partials``)
    into ≤ 10^decimals + 1 ``partials`` rows; the cumulative prefix
    sums — which do NOT merge — run only at read time over the folded
    grid. ``decimals`` is frozen in meta. :func:`read_threshold_curve`
    folds the partials into the SAME frame the batch operator emits."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        evaluation as _ev,
    )

    who = "streaming_threshold_curve"
    if not 0 <= int(decimals) <= 6:
        raise ValueError(
            f"{who}: decimals must be in [0, 6], got {decimals} (the "
            "10^decimals grid bound is the state-size contract)"
        )
    compacted_through = _freeze_state(
        scored_stream.sparkSession, state_path, who, (int(decimals),),
        "decimals int",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            _ev._threshold_partials(batch_df, prob_col, label_col, decimals, who=who),
            f"{state_path}/partials",
            batch_id,
        )

    return _start_gate(
        scored_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_threshold_curve(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-grid-score partials into the current
    keep/drop decision table — identical output schema and values
    (parity-tested in the gate-family contract) to
    ``evaluation.threshold_curve`` run batch-side over the accumulated
    stream. One sum over (grid × batches) metadata-scale rows, then the
    SHARED cumulative + frame finishers; before the first non-empty
    batch it is the empty curve, exactly what the batch operator emits
    over zero rows."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        evaluation as _ev,
    )

    index_layout.read_meta(spark, state_path)  # refuses uninitialized state
    grid = _fold_state(
        spark, state_path, "threshold", "partials", "read_threshold_curve",
        "threshold double, n bigint, pos bigint",
    )
    return _ev._threshold_frame(_ev._threshold_cumulative(grid))


def compact_gate_state(
    spark: SparkSession,
    state_path: str,
    out_path: str,
    folds: "dict[str, object]",
) -> int:
    """Fold a gate's accumulated per-batch ``_batch_id`` partials into
    ONE base partition at a NEW state path — protocol step 6, the gate
    family's `consolidate_index`. The read-side folds rescan every batch
    partition ever written; for the duplication gate (the one gate with
    data-scale partials, O(distinct window hashes × batches)) that read
    tax grows without bound, and even the metadata-scale gates
    accumulate one small file per batch (file-count hygiene). Compaction
    pre-folds history so a read costs O(state), not O(state × batches).

    ``folds`` maps every state subdir (meta aside) to its fold — the
    gate's :data:`_STATE_LAYOUTS` entry, folded by the same
    ``index_layout._fold_partials`` its reader folds through — or to
    ``"copy"`` for a frozen non-batch artifact (the stamp's mapping, the
    split's component map, a baseline), rewritten verbatim so the
    compacted layout stays self-contained.

    Folded rows land as the reserved base partition ``_batch_id = -1``
    (real Structured Streaming batch ids are ≥ 0) under ``out_path``;
    the read-side fold then folds base + any newer batches, and because
    every fold is associative, compacted ≡ uncompacted (parity-tested in
    the gate-family contract's compaction leg). Outputs are sized from the
    source bytes, since a subdir can be data-scale (the duplication
    partials, the component map). A subdir the map does not name
    refuses the compaction (coverage guard).

    REPLAY IDEMPOTENCE — the invariant that makes this safe: the max
    folded batch id (from the partition listing, not a data scan) is
    recorded as ``compacted_through`` in the
    compacted meta, and every gate's write side SKIPS batch ids ≤
    ``compacted_through`` (protocol step 2) — so when Structured
    Streaming replays a batch whose partials were already folded into
    the base (crash between the state write and the checkpoint commit,
    then compact, then restart), the replay cannot re-write its
    partition beside the base and double-count (tested explicitly). Two
    corollaries the caller owns: (1) SINGLE-WRITER, OFFLINE — stop the
    gate's stream, compact, restart pointing at ``out_path``; compacting
    under a live writer can lose the in-flight batch. (2) KEEP THE
    ORIGINAL CHECKPOINT — batch ids are monotone only within one
    checkpoint; a fresh checkpoint restarts ids at 0 and the guard would
    silently skip genuinely NEW batches. The ONE fresh-checkpoint use
    that is safe is full-history replay over a landing dir that is
    UNCHANGED since the compaction AND delivered as a single batch
    (``availableNow`` with no ``maxFilesPerTrigger``): batch 0 then
    holds exactly the folded history and the skip is the wanted no-op.
    If new files landed after compaction, that same batch 0 carries
    old+new rows and the guard drops the NEW rows with it; if the replay
    is split across several batches, batches > ``compacted_through``
    re-write already-folded rows beside the base and double-count — in
    either case restart from the ORIGINAL checkpoint instead.

    Write ordering: data subdirs first, meta LAST (the init-crash rule)
    — a crash mid-compaction leaves ``out_path`` without meta, which
    every gate reader refuses and every gate's freeze refuses to
    re-initialize over, so half-compacted state can never be read; the
    SOURCE state path is never touched (swap-then-expire: the caller
    deletes it after the restarted gate is confirmed healthy). NOT for
    the PSI gate: ``read_psi_trend``'s per-batch view IS the product
    there; folding its partitions would destroy the trend. Returns
    ``compacted_through``."""
    from building_a_rag_pipeline_with_airflow_spark.sources import io

    who = "compact_gate_state"
    dst = index_layout.require_fresh_output(
        spark, who, state_path, out_path, "live state"
    )
    meta = index_layout.read_meta(spark, state_path)  # refuses uninitialized state
    # coverage guard: every data subdir actually present under the live
    # state must be named in the fold map — a gate layout that grew a
    # subdir this map doesn't know would otherwise compact to a state
    # silently MISSING that data, and the readers' missing-dir fallbacks
    # would mask the loss as zeros (the loud-refusal rule)
    listing = _state_subdirs(spark, state_path)
    uncovered = sorted(set(listing) - set(folds) - {"meta"})
    if uncovered:
        raise ValueError(
            f"{who}: {state_path} holds data subdir(s) {uncovered} not "
            f"covered by the layout map {sorted(folds)} — compacting would "
            "silently drop them (and the read-side missing-dir fallbacks "
            "would mask the loss as zeros); extend the gate's state layout first"
        )

    def n_out_files(sub: str) -> int:
        # File count sized from the SOURCE bytes (the compact_parquet
        # listing idiom, no data scan): the duplication gate's partials
        # and the split's component map are data-scale, and coalesce(1)
        # would funnel them through one unbounded task. The fold can only
        # shrink the data, so source bytes are a safe upper bound;
        # metadata-scale subdirs land at the n_files=1 floor anyway.
        total = sum(
            sz for _, sz in io.list_parquet_leaf_files(spark, f"{state_path}/{sub}")
        )
        return max(1, -(-total // (128 * 1024 * 1024)))  # ceil div

    max_bid = int(meta.asDict().get("compacted_through", -1))
    for sub, fold in folds.items():
        # a subdir can legitimately not exist yet (every batch floored
        # away, all-empty batches): skip it; any other failure raises
        raw = index_layout._read_or_none(spark, f"{state_path}/{sub}")
        if raw is None:
            continue
        if fold == "copy":
            raw.coalesce(n_out_files(sub)).write.mode("overwrite").parquet(
                f"{dst}/{sub}"
            )
            continue
        max_bid = max(max_bid, *listing[sub])
        order = [c for c in raw.columns if c != "_batch_id"]
        index_layout._write_tagged(
            index_layout._fold_partials(raw, fold, meta).select(*order),
            f"{dst}/{sub}", index_layout.BASE_BATCH_ID,
            coalesce=n_out_files(sub), dynamic=False,
        )
    index_layout.write_meta(
        spark.read.parquet(f"{state_path}/meta")
        .drop("compacted_through")
        .withColumn("compacted_through", F.lit(max_bid).cast("bigint")),
        dst,
    )
    return max_bid


def compact_duplication_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the duplication gate — the gate
    this op exists for: its partials are the family's one data-scale
    state (O(distinct window hashes × batches)), so the read-side fold
    pays an ever-growing rescan until compacted. Folds (h, c) partials
    by hash-sum and the exact totals rows by sum; the count-floor
    lower-bound semantics are untouched (the floor applied per batch at
    write time; summing the survivors is exactly what the uncompacted
    fold does). Use :func:`gate_state_report` to decide WHEN (batches
    or files past a budget)."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["duplication"])


def compact_calibration_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the calibration gate — its state
    is metadata-scale (n_bins × batches), so this is file-count hygiene
    rather than a read-cost fix."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["calibration"])


def gate_state_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-subdir health report of a gate's state directory — the WHEN
    for the ``compact_*_state`` family (the `sources.io.layout_report`
    precedent, at gate-state grain): one row per subdir with the batch-
    partition count, whether the ``_batch_id = -1`` compaction base is
    present, and the file/byte footprint, so an operator can cron
    "compact when n_batches > N" (or alert on file-count pressure)
    instead of guessing.

    Works on METADATA only: batch ids come from partition directory
    names and footprint from the filesystem listing — no data scan, so
    the report costs O(#batches + #files) regardless of state size (the
    duplication gate's data-scale partials are never read). ``meta`` and
    frozen artifacts report their file footprint with ``n_batches = 0``;
    an uninitialized path (no meta) raises like every gate reader."""
    from building_a_rag_pipeline_with_airflow_spark.sources import io

    index_layout.read_meta(spark, state_path)  # refuses uninitialized state
    rows = []
    for sub, batch_ids in _state_subdirs(spark, state_path).items():
        files = io.list_parquet_leaf_files(spark, f"{state_path}/{sub}")
        rows.append(
            (
                sub,
                len(batch_ids - {-1}),
                -1 in batch_ids,
                len(files),
                int(sum(sz for _, sz in files)),
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "subdir string, n_batches int, has_base boolean, "
        "n_files int, n_bytes bigint",
    )


def compact_threshold_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the threshold-curve gate — its
    per-grid-score (n, pos) counts are plain sums, so the fold is exact
    and the state is metadata-scale (grid × batches): file-count
    hygiene."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["threshold"])


def compact_nb_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the streaming NB classifier gate
    — its (class, bucket) token counts and per-class doc counts are
    plain sums (the very property that makes the model streamable), so
    both subdirs fold exactly. State is metadata-scale ((classes ×
    buckets + classes) × batches): file-count hygiene."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["nb"])


def compact_sketch_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the quantile-sketch gate — the
    fold is the GLOBAL BOTTOM-K over the accumulated per-batch samples
    (exact, not sketch-merge approximation: each global hash-priority
    minimum is among its own batch's k minima — the same associativity
    :func:`read_sketch_sample`'s read fold relies on, so base + newer
    batches re-folds to the identical sample). The base therefore
    shrinks to ≤ k rows regardless of batch count — this compactor
    bounds STATE SIZE (#batches × k rows), not just file count. The
    frozen ``baseline`` sample travels verbatim."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["sketch"])


def compact_split_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the streaming cluster-safe split —
    its per-batch state is OUTPUT rows (narrow ``(id, split_key,
    split)`` assignments), so the fold is CONCATENATION, with the frozen
    component map copied verbatim (data-scale — sized from source bytes,
    never one task)."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["split"])


def streaming_expectations(
    rows_stream: DataFrame,
    expectations,
    state_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming data-contract gate: maintain
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.validation.expectations_report`
    incrementally — the contract twin of :func:`streaming_psi`.

    Each batch evaluates the declarative contract over its rows (one
    aggregation pass, the batch operator's exact expressions) into
    #expectations counter rows under ``batches/``;
    :func:`read_expectations_report` folds them into the SAME report the
    batch operator computes over the accumulated stream (parity-tested).

    ``unique`` expectations are REJECTED here, loudly: per-batch
    ``count - count_distinct`` misses every cross-batch duplicate, so a
    streamed sum would silently under-count violations — the same
    "batch-local statistic goes stale" hazard the extended-index
    recount contract exists for. Check uniqueness batch-side over the
    accumulated table (`expectations_report`) or stream it through the
    stateful dedup operator instead.

    The contract freezes in meta (sorted JSON): a restart with a
    different contract raises — mixed counter definitions would make the
    folded report meaningless."""
    import json

    from building_a_rag_pipeline_with_airflow_spark.operators import validation

    bad = [e["name"] for e in expectations if e["kind"] in ("unique", "min_rows")]
    if bad:
        raise ValueError(
            f"streaming_expectations: expectations {bad} are not mergeable "
            "across micro-batches ('unique': per-batch distinct counts miss "
            "cross-batch duplicates; 'min_rows': a per-batch verdict summed "
            "over batches is not the accumulated-table verdict); run "
            "expectations_report batch-side over the accumulated table "
            "instead."
        )
    contract_str = json.dumps(
        [
            {
                k: list(v) if isinstance(v, (list, tuple)) else v
                for k, v in e.items()
            }
            for e in sorted(expectations, key=lambda e: e["name"])
        ],
        sort_keys=True,
    )
    compacted_through = _freeze_state(
        rows_stream.sparkSession, state_path, "streaming_expectations",
        (contract_str,), "contract string",
        why="accumulated counters under a different contract would mix "
        "counter definitions",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            validation.expectations_report(batch_df, expectations),
            f"{state_path}/batches", batch_id, coalesce=1,
        )

    return _start_gate(
        rows_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_expectations_report(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-batch contract counters into the current
    report — identical schema (and values, parity-tested) to
    `validation.expectations_report` run batch-side over the same
    accumulated rows. One aggregate over (#expectations × #batches)
    metadata-scale rows; no raw-data rescan. Before the first non-empty
    batch the fold is the frozen contract's zero-count passed rows, as
    the batch operator reports over an empty table."""
    import json

    def zero_counts() -> DataFrame:
        contract = index_layout.read_meta(spark, state_path)["contract"]
        return local_frame(
            spark,
            [(e["name"], e["kind"], e.get("col", "*"), 0, 0)
             for e in json.loads(contract)],
            "expectation string, kind string, col_name string, "
            "n_violations bigint, n_rows bigint",
        )

    return (
        _fold_state(
            spark, state_path, "expectations", "batches",
            "read_expectations_report", zero_counts,
        )
        .select(
            "expectation",
            "kind",
            "col_name",
            "n_violations",
            "n_rows",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("expectation")
    )


def streaming_embedding_drift(
    vec_stream: DataFrame,
    baseline_df: DataFrame,
    state_path: str,
    checkpoint_path: str,
    c_vec: str = "embedding",
    available_now: bool = True,
):
    """Continuous embedding-space drift against a frozen BASELINE — the
    vector twin of :func:`streaming_psi`, for corpora that are embedded
    as they arrive (the alert that schedules
    ``similarity.recluster_ivf_index`` instead of anyone polling).

    The baseline's per-position value sums, counts and norm sum freeze
    in ``<state_path>/baseline`` (dim-bounded rows — metadata). Each
    batch writes the same MERGEABLE partials for its own rows under
    ``batches/``; :func:`read_embedding_drift` folds them through the
    batch operator's own finisher into the one-row report
    ``drift.embedding_drift`` computes over baseline vs the accumulated
    stream (parity-tested).

    Meta freezes the dimension and the baseline's identity: a
    :func:`_fingerprint` of its ``(vector, multiplicity)`` rows (the sums
    themselves depend on summation order, and grouping keeps two equal
    vectors from cancelling in the xor fold). A restart with a different
    baseline raises. The stream's vectors must share the baseline's
    dimension — checked per batch, because the fold join is positional."""
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import l2_norm
    from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty

    require_nonempty(baseline_df.limit(1), "embedding drift baseline")
    dim_base = len(baseline_df.select(c_vec).first()[0])

    def _partials(df: DataFrame) -> DataFrame:
        ex = df.select(
            F.posexplode(c_vec).alias("_p", "_v"), l2_norm(c_vec).alias("_nrm")
        )
        return ex.groupBy("_p").agg(
            F.sum("_v").alias("sum_v"),
            F.count("*").cast("bigint").alias("n"),
            # the same row norm lands once per position; divide out later
            F.sum("_nrm").alias("sum_norm"),
        )

    identity = baseline_df.groupBy(c_vec).agg(F.count("*").alias("n"))
    compacted_through = _freeze_state(
        baseline_df.sparkSession, state_path, "streaming_embedding_drift",
        (dim_base, *_fingerprint(identity)),
        "dim int, base_n bigint, base_fp bigint",
        artifacts=[("baseline", _partials(baseline_df).coalesce(1))],
        why="accumulated batch partials compared against a different "
        "baseline centroid would measure drift from swapped geometry",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        # the batch twin's dim guard, per batch (one metadata probe): a
        # model change mid-stream must fail the query loudly, not let the
        # positional fold report a common-prefix cosine
        dim_batch = len(batch_df.select(c_vec).first()[0])
        if dim_batch != dim_base:
            raise ValueError(
                f"streaming_embedding_drift: batch {batch_id} carries "
                f"{dim_batch}-dim vectors but the frozen baseline is "
                f"{dim_base}-dim; a common-prefix comparison would be "
                "meaningless. Re-baseline at a fresh state_path."
            )
        index_layout._write_tagged(
            _partials(batch_df), f"{state_path}/batches", batch_id, coalesce=1
        )

    return _start_gate(
        vec_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_embedding_drift(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-position partials against the frozen
    baseline into the current one-row drift report — per-position
    centroids and mean norms through ``drift.embedding_drift``'s own
    finisher, so schema and values match the batch operator over
    ``(baseline, accumulated_stream)`` (parity-tested). One aggregate
    over (dim × batches) metadata-scale rows; no raw-vector rescan. Like
    the batch operator over an empty side, it raises a ValueError before
    the first non-empty batch."""
    from building_a_rag_pipeline_with_airflow_spark.operators import drift

    def centroid(sums: DataFrame, tag: str) -> DataFrame:
        return sums.select(
            "_p",
            (F.col("sum_v") / F.col("n")).alias(f"c_{tag}"),
            F.col("n").alias(f"n_{tag}"),
            (F.col("sum_norm") / F.col("n")).alias(f"norm_{tag}"),
        )

    dim = int(index_layout.read_meta(spark, state_path)["dim"])
    base = centroid(spark.read.parquet(f"{state_path}/baseline"), "base")
    cur = centroid(
        _fold_state(
            spark, state_path, "embedding_drift", "batches", "read_embedding_drift"
        ),
        "cur",
    )
    # fold-side backstop for the same dim contract the writer enforces:
    # a positional inner join over mismatched dims would silently keep
    # the common prefix (the frame is dim-bounded; the count is cheap)
    n_cur_pos = cur.count()
    if n_cur_pos != dim:
        raise ValueError(
            f"read_embedding_drift: baseline holds {dim} positions but the "
            f"accumulated stream holds {n_cur_pos}; the state at "
            f"{state_path} mixes embedding dimensions."
        )
    norms = base.agg(
        F.round(F.max("norm_base"), 4).alias("mean_norm_base")
    ).crossJoin(cur.agg(F.round(F.max("norm_cur"), 4).alias("mean_norm_cur")))
    return drift._centroid_drift(base.join(cur, "_p"), norms)


def streaming_nb_update(
    labeled_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    label_col: str = "lang",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    available_now: bool = True,
):
    """Continuously retrain the naive-Bayes domain classifier
    (`operators.curation.nb_domain_classify`) from a stream of LABELED
    documents — the gate whose statistics are EXACTLY mergeable: the
    model is built from (class, bucket) token counts and per-class doc
    counts, and counts sum across batches with no approximation at all
    (unlike `unique`, which the expectations gate must reject).

    Each batch tokenizes its documents once into (class, bucket, n)
    ``token_counts`` and (class, n_docs) ``doc_counts`` partials.
    :func:`classify_with_streamed_nb` folds them into the live model and
    classifies any frame with results IDENTICAL to `nb_domain_classify`
    trained batch-side on the accumulated labeled stream (parity-tested).
    Meta holds ``(n_buckets, alpha)``: ``n_buckets`` is frozen (the
    stored bucket values are mod it), ``alpha`` is only the recommended
    fold-time smoothing default, so a restart may pass another one."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        curation as _cur,
    )

    compacted_through = _freeze_state(
        labeled_stream.sparkSession, state_path, "streaming_nb_update",
        (int(n_buckets), float(alpha)), "n_buckets int, alpha double",
        why="stored bucket values were computed mod the original modulus, "
        "so mixing would corrupt the model silently",
        loose=("alpha",),
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            _cur._nb_token_buckets(batch_df, label_col, "_lbl", text_col, n_buckets)
            .groupBy("_lbl", "b")
            .agg(F.count("*").cast("bigint").alias("n")),
            f"{state_path}/token_counts", batch_id, coalesce=1,
        )
        index_layout._write_tagged(
            batch_df.where(F.length(F.trim(F.col(text_col))) > 0)
            .groupBy(F.col(label_col).alias("_lbl"))
            .agg(F.count("*").cast("bigint").alias("n_docs")),
            f"{state_path}/doc_counts", batch_id, coalesce=1,
        )

    return _start_gate(
        labeled_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def classify_with_streamed_nb(
    spark: SparkSession,
    state_path: str,
    score_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: "int | None" = None,
    alpha: "float | None" = None,
) -> DataFrame:
    """Classify ``score_df`` with the model accumulated by
    :func:`streaming_nb_update` — identical output (parity-tested) to
    `nb_domain_classify` trained batch-side on the same accumulated
    labeled rows. The fold is one aggregate over (classes × buckets ×
    batches) metadata-scale partial rows; scoring is the batch
    operator's own (`curation._nb_score`: grid broadcast, 6dp-rounded
    argmax with label tiebreak), so the streamed and batch models are
    interchangeable mid-pipeline. Like the batch operator over no
    labeled tokens, it raises a ValueError before the first non-empty
    batch.

    ``n_buckets`` defaults to the value FROZEN in ``<state_path>/meta``
    by the first :func:`streaming_nb_update` invocation; passing a
    different value RAISES (the stored bucket values were computed mod
    the frozen modulus — a mismatched fold would score silently wrong).
    ``alpha`` defaults to the meta row's recommended smoothing but is a
    legitimate fold-time knob (it is not baked into the partials), so an
    explicit value simply wins."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        curation as _cur,
        require_nonempty,
    )

    who = "classify_with_streamed_nb"
    meta = index_layout.read_meta(spark, state_path)
    frozen = int(meta["n_buckets"])
    if n_buckets is not None and int(n_buckets) != frozen:
        raise ValueError(
            f"{who}: partials at {state_path} were written with "
            f"n_buckets={frozen} but the fold asks for {int(n_buckets)}; "
            "stored bucket values are mod the frozen modulus, so this "
            "fold would be silently wrong."
        )
    n_buckets = frozen
    if alpha is None:
        alpha = float(meta["alpha"])
    cls_tok = _fold_state(
        spark, state_path, "nb", "token_counts", who
    ).withColumnRenamed("n", "n_lb")
    doc_counts = _fold_state(spark, state_path, "nb", "doc_counts", who).withColumn(
        "n_docs", F.col("n_docs").cast("double")
    )
    sc_tok = _cur._nb_token_buckets(score_df, id_col, id_col, text_col, n_buckets)
    require_nonempty(sc_tok.limit(1), "nb scoring tokens")
    return _cur._nb_score(cls_tok, doc_counts, sc_tok, id_col, n_buckets, alpha)


def streaming_quantile_sketch(
    rows_stream: DataFrame,
    baseline_df: DataFrame,
    value_col: str,
    id_col: str,
    state_path: str,
    checkpoint_path: str,
    k: int = 1024,
    available_now: bool = True,
):
    """Quantile-sketch streaming drift gate, composing the deterministic
    bottom-k sketch (`operators.sketch`) with the PSI family: each batch
    writes its own bottom-k sample (≤ k rows) under ``batches/``, and
    because the k global hash-priority minima are each among their own
    batch's k minima, the read-side fold is EXACTLY the batch-side sketch
    of the accumulated stream — set equality, not sketch-merge
    approximation (the property randomized KLL/t-digest compactors
    cannot give; see ``operators/sketch.py``).

    What it buys over `streaming_psi`: that gate freezes its bin
    boundaries at baseline time, so the drift GRAIN is a write-time
    decision; here only the tiny samples are maintained, and
    :func:`read_sketch_report` picks ``n_bins`` at READ time (any
    grain, any time, from the same state).

    Frozen: ``(k, value_col, id_col)`` and the baseline sample's
    :func:`_fingerprint` in meta, the baseline's bottom-k sample itself
    in ``<state_path>/baseline`` — mixed-k partials do not merge
    losslessly, and a swapped baseline would silently re-anchor every
    PSI read."""
    from building_a_rag_pipeline_with_airflow_spark.operators import sketch

    base = sketch.bottomk_sample(baseline_df, value_col, id_col, k)
    compacted_through = _freeze_state(
        baseline_df.sparkSession, state_path, "streaming_quantile_sketch",
        (int(k), value_col, id_col, *_fingerprint(base)),
        "k int, value_col string, id_col string, base_n bigint, base_fp bigint",
        artifacts=[("baseline", base.coalesce(1))],
        why="mixed-k partials do not merge losslessly, and a DIFFERENT "
        "baseline sample would silently re-anchor every PSI read",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        index_layout._write_tagged(
            sketch.bottomk_sample(batch_df, value_col, id_col, k),
            f"{state_path}/batches", batch_id, coalesce=1,
        )

    return _start_gate(
        rows_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_sketch_sample(spark: SparkSession, state_path: str) -> DataFrame:
    """Fold the streamed per-batch bottom-k partials into the CURRENT
    sketch — identical (set-equal, parity-tested) to
    ``sketch.bottomk_sample`` run batch-side over the accumulated
    stream. One TakeOrdered over (#batches × k) metadata-scale rows; a
    replayed batch's rows were overwritten in place, so the fold needs
    no dedup. Before the first non-empty batch the sample is empty (the
    frozen baseline's columns, zero rows), as the batch sampler's over
    an empty frame."""
    return _fold_state(
        spark, state_path, "sketch", "batches", "read_sketch_sample",
        lambda: spark.read.parquet(f"{state_path}/baseline").limit(0),
        index_layout.read_meta(spark, state_path),
    )


def streaming_cluster_safe_split(
    rows_stream: DataFrame,
    components_df: DataFrame,
    state_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    comp_col: str = "component",
    eval_fraction: float = 0.1,
    salt: str = "split",
    available_now: bool = True,
):
    """Streaming leakage-safe train/eval assignment: incoming documents
    are assigned as they arrive, CONSISTENTLY with a frozen near-dup
    component map — the streaming form of
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.sampling.cluster_safe_split`.

    Why the map freezes: the assignment is a pure function of
    ``(id, component map, eval_fraction, salt)``. If the map changed
    between batches, the same document family could land on BOTH sides
    across batches — exactly the leakage the operator exists to prevent.
    So the component map is frozen in ``<state_path>/components``, its
    identity ``(n_components, comp_fp)`` — count plus order-independent
    md5-fold checksum, as the map at scale is too large to collect —
    freezes in meta with ``(id_col, comp_col, eval_fraction, salt)``.
    Re-clustering means a NEW split under a fresh state_path — an
    intentional, visible re-assignment, never a silent drift.

    Each batch left-joins the frozen map (one equi-join; the map side is
    pair-bearing docs only) into narrow ``(id, split_key, split)`` rows
    under ``batches/``. Because assignment is stateless given the frozen
    inputs, the accumulated assignments are IDENTICAL to batch
    ``cluster_safe_split`` over the accumulated stream (parity-tested)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    if not 0.0 <= eval_fraction <= 1.0:
        raise ValueError(
            f"eval_fraction must be in [0, 1], got {eval_fraction}"
        )
    comp = components_df.select(
        F.col(id_col).cast("string").alias(id_col),
        F.col(comp_col).cast("string").alias(comp_col),
    )
    compacted_through = _freeze_state(
        rows_stream.sparkSession, state_path, "streaming_cluster_safe_split",
        (id_col, comp_col, float(eval_fraction), salt, *_fingerprint(comp)),
        "id_col string, comp_col string, eval_fraction double, "
        "salt string, n_components bigint, comp_fp bigint",
        artifacts=[("components", comp)],
        why="a DIFFERENT component map or split parameter re-assigns "
        "documents mid-stream and can put one near-dup family on both "
        "sides across batches",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        assigned = sampling.cluster_safe_split(
            batch_df.withColumn(id_col, F.col(id_col).cast("string")),
            batch_df.sparkSession.read.parquet(f"{state_path}/components"),
            id_col=id_col,
            comp_col=comp_col,
            eval_fraction=eval_fraction,
            salt=salt,
        )
        index_layout._write_tagged(
            assigned.select(id_col, "split_key", "split"),
            f"{state_path}/batches", batch_id, coalesce=1,
        )

    return _start_gate(
        rows_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_split_assignments(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated streamed assignments ``(id, split_key, split)`` —
    row-identical (parity-tested) to batch ``cluster_safe_split`` over
    the accumulated stream against the frozen component map, and empty
    before the first non-empty batch. A
    checkpoint REPLAY of a batch overwrites its own partition in place,
    but a doc id genuinely delivered in two DIFFERENT micro-batches (a
    producer re-dropping an overlapping landing file) is assigned under
    two partitions — the same hazard the stamp read closes, so this read
    dedupes on the frozen ``id_col``: exact, because assignment is a
    pure function of (id, frozen map, eval_fraction, salt), so the
    re-delivered row's ``(split_key, split)`` is identical and the
    surviving row arbitrary-safe."""
    idc = index_layout.read_meta(spark, state_path)["id_col"]
    return _fold_state(
        spark, state_path, "split", "batches", "read_split_assignments",
        f"`{idc}` string, split_key string, split string",
    ).dropDuplicates([idc])


def read_sketch_report(
    spark: SparkSession, state_path: str, n_bins: int = 10, eps: float = 1e-6
) -> DataFrame:
    """PSI of the accumulated stream's sketch against the frozen
    baseline sketch at an ARBITRARY read-time grain — the payoff of
    sketching: ``n_bins`` is chosen here, per analysis, not frozen into
    the state like `streaming_psi`'s bin boundaries. Output schema (and
    smoothing) are exactly `drift.psi_profile`'s, and so is its
    ValueError over an empty sample (no non-empty batch yet)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import sketch

    meta = index_layout.read_meta(spark, state_path)
    base = spark.read.parquet(f"{state_path}/baseline")
    return sketch.sketch_psi(
        base, read_sketch_sample(spark, state_path), meta["value_col"],
        n_bins, eps,
    )


def streaming_classifier_stamp(
    scores_stream: DataFrame,
    fit: DataFrame,
    state_path: str,
    checkpoint_path: str,
    *,
    id_col: str = "doc_id",
    prob_col: str = "p",
    label_col: str = "y",
    min_precision: float,
    n_bins: int = 10,
    decimals: int = 4,
    available_now: bool = True,
):
    """Streaming classifier-gate STAMP: documents arriving on the
    landing stream, already scored by the trained classifier, get the
    calibrated keep/drop verdict of
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.curation.classifier_gate`
    as they arrive — the continuous-curation end of the capstone: train
    once, calibrate once, pick the operating point once, then gate the
    stream forever against that frozen decision.

    This is deliberately NOT a fold gate (the SURVEY negative-result
    bar, satisfied by construction): the stamp has NO fold and no
    evolving state. A row's verdict is a pure function of ``(row, frozen
    mapping, frozen threshold, decimals)`` — the
    `streaming_cluster_safe_split` shape, with the gate's fitted mapping
    playing the component map's role.

    Why the decision freezes: re-fitting the calibration or re-picking
    the threshold mid-stream would gate late arrivals against a
    DIFFERENT operating point than early ones — the audited
    precision-floor guarantee would hold for no batch at all. So the
    mapping is fitted and the threshold picked through the SAME shared
    recipe the batch gate uses (``curation.fit_gate_operating_point``,
    loud unreachable-floor raise included); the ≤``n_bins``-row mapping
    freezes in ``<state_path>/mapping`` and ``(id_col, prob_col, n_bins,
    decimals, min_precision, threshold)`` plus the mapping's
    :func:`_fingerprint` in meta. Every invocation
    re-derives both from the PROVIDED fit frame, so a drifted fit frame
    raises like a changed parameter: re-calibrating means a NEW stamp
    under a fresh state_path — an intentional, visible re-gating.

    Each batch is stamped by
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.curation.stamp_with_gate`
    — the ONE stamp expression the batch gate itself runs (broadcast
    mapping lookup + grid-rounded threshold compare), against the mapping
    and threshold read back from state — so stream ≡ batch
    verdict-for-verdict by construction (parity-tested per batch), and
    writes narrow ``(id, cal, keep)`` rows under ``batches/``: one
    broadcast join + map over the batch, zero shuffle. The one growth
    axis is file count (one partition per non-empty batch), which
    :func:`compact_stamp_state` folds."""
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        curation as _cur,
    )

    spark = scores_stream.sparkSession
    who = "streaming_classifier_stamp"
    mapping_rows, thr = _cur.fit_gate_operating_point(
        fit, prob_col, label_col,
        min_precision=min_precision, n_bins=int(n_bins),
        decimals=int(decimals), cal_col="_cal_probe", who=who,
    )
    mapping = local_frame(
        spark,
        sorted((int(r["bin"]), float(r["p_cal"])) for r in mapping_rows),
        "_cal_bin int, _cal_p double",
    )
    compacted_through = _freeze_state(
        spark, state_path, who,
        (id_col, prob_col, int(n_bins), int(decimals), float(min_precision),
         float(thr), *_fingerprint(mapping)),
        "id_col string, prob_col string, n_bins int, decimals int, "
        "min_precision double, threshold double, mapping_n bigint, "
        "mapping_fp bigint",
        artifacts=[("mapping", mapping.coalesce(1))],
        why="gating late arrivals against a DIFFERENT operating point "
        "breaks the audited precision floor for every batch",
    )

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        # stamp against the FROZEN mapping + threshold read back from
        # state, never the closure's copy: what gates the stream is what
        # the state holds
        meta = index_layout.read_meta(batch_df.sparkSession, state_path)
        frozen_rows = [
            {"bin": r["_cal_bin"], "p_cal": r["_cal_p"]}
            for r in batch_df.sparkSession.read.parquet(
                f"{state_path}/mapping"
            ).collect()
        ]
        stamped = _cur.stamp_with_gate(
            batch_df,
            frozen_rows,
            float(meta["threshold"]),
            prob_col,
            n_bins=int(meta["n_bins"]),
            decimals=int(meta["decimals"]),
            cal_col="cal",
            keep_col="keep",
            who=who,
        )
        index_layout._write_tagged(
            stamped.select(id_col, "cal", "keep"),
            f"{state_path}/batches", batch_id, coalesce=1,
        )

    return _start_gate(
        scores_stream, checkpoint_path, compacted_through, write_partials,
        available_now,
    )


def read_stamped_assignments(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated streamed gate verdicts ``(id, cal, keep)`` —
    verdict-identical (parity-tested) to batch
    ``curation.classifier_gate`` over the accumulated stream against
    the frozen mapping + threshold. A checkpoint REPLAY of a batch
    overwrites its own partition in place, but a doc id genuinely
    delivered in two DIFFERENT micro-batches — a producer re-dropping an
    overlapping landing file — is stamped under two partitions, so the
    read dedupes on the frozen ``id_col``: exact, because under the
    frozen operating point a re-delivered row with the same score gets
    the identical ``(cal, keep)`` verdict, making the surviving row
    arbitrary-safe. (A re-delivery carrying a DIFFERENT score for the
    same id is an upstream identity bug — version the ids — this read
    keeps one verdict for it rather than two contradictory ones.) Before
    the first non-empty batch it raises a no-verdicts-yet ValueError:
    the id column's type is only known once a batch lands, so there is
    no honest empty frame to return; uninitialized state is refused by
    the meta read as usual."""
    meta = index_layout.read_meta(spark, state_path)  # refuses uninitialized
    return _fold_state(
        spark, state_path, "stamp", "batches", "read_stamped_assignments"
    ).dropDuplicates([meta["id_col"]])


def compact_stamp_state(
    spark: SparkSession, state_path: str, out_path: str
) -> int:
    """:func:`compact_gate_state` for the classifier stamp — its
    per-batch partitions are OUTPUT rows (narrow ``(id, cal, keep)``
    verdicts), not mergeable partials, so the fold is CONCATENATION and
    the frozen ≤n_bins-row ``mapping`` is copied verbatim. Exact: the
    read-side fold is plain union (plus the cross-batch id dedup,
    applied identically before and after), and union is associative
    like the sum folds. At 10^5 micro-batches the uncompacted read
    degrades on listing alone — the reference's re-ingestion idempotence
    (``dags/nvidia_quarterly_reports_pipeline.py:372``,
    ``replace=True``) at stream grain."""
    return compact_gate_state(spark, state_path, out_path, _STATE_LAYOUTS["stamp"])
