"""Shared storage contract for the durable-index family.

Six durable indexes follow ONE layout contract (shingle near-dup
postings — ``operators.dedup.build_shingle_index``; BM25 postings —
``operators.lexical.build_postings_index``; IVF vectors —
``operators.similarity.build_ivf_index``; perceptual-hash bands —
``operators.multimodal.build_phash_index``; ExactSubstr window hashes —
``operators.dedup.build_substring_index``; trigram gram postings —
``operators.linkage.build_trigram_index``):

* **Data** lives under ``<path>/<subdir>/`` partitioned by the layout's
  pruning key(s) PLUS ``_batch_id``: the base build writes everything as
  batch ``-1``; streaming extensions append each micro-batch under its
  own ``_batch_id`` with DYNAMIC partition overwrite, so a replayed
  batch overwrites exactly its own rows instead of duplicating them
  (replay idempotence). Files are optionally sorted within partitions so
  point lookups row-group-skip via parquet min/max stats.
* **Meta** is one tiny parquet row under ``<path>/meta`` recording the
  build constants a reader must agree on (bucket counts, n-gram size,
  band counts) and, where the index denormalizes corpus statistics into
  data rows, an ``extended`` flag that tells queries to stop trusting
  the (now batch-local) stored statistics and recount in-plan.
* **Extensions** are ``foreachBatch`` writers with a checkpoint — the
  standard grow-in-production path (recompute/re-cluster offline when
  balance drifts, never per arrival).
* **Reads** finish through the in-plan operator's own code. A
  ``*_from_index`` reader differs from its in-plan twin only in where its
  rows come from (the stored layout instead of an in-plan derive); the
  candidate, verify and score steps after that are one private helper
  per family: ``multimodal._phash_pairs``, ``linkage._trigram_topk``,
  ``dedup._jaccard_pairs``, ``lexical._bm25_contrib`` (reached through
  ``lexical._index_contrib``, which also holds the extended-index
  ``df_t`` recount of both BM25 readers) and, for IVF,
  ``similarity._ivf_centroids`` / ``_probe_cells`` / ``_ivf_topk`` /
  ``_decoded``.

These helpers are the single implementation of that contract; a fix to
the write/replay mechanics lands in all six indexes at once. The four
bucketed-postings indexes (shingle, ExactSubstr, trigram, BM25) are each
one :class:`PostingsFamily` spec, and their build, extension and
consolidation all write through :func:`write_postings`. Extenders pin a
batch's derived rows and skip it entirely when it derives zero rows
(:func:`start_pinned_extender`); those that flip ``extended`` write the
meta flip BEFORE their data rows (a reader between the two writes must
never see extension rows under a stale flag — the recount-over-base gap
is the safe one).
``tests/test_index_contract.py`` pins the contract itself, parameterized
over every index: build ≡ in-plan, extension replay is idempotent, and
point queries prune the scan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from building_a_rag_pipeline_with_airflow_spark.session import local_frame

#: the base build's batch id — streaming extensions use the stream's own
#: (non-negative) batch ids, so -1 can never collide with one
BASE_BATCH_ID = -1


def check_n_buckets(n_buckets: int, op: str) -> None:
    """Index-build bucket-count guard, shared by every bucketed builder
    in the family (r9 advice): ``pmod(xxhash64(key), 0)`` is NULL — a
    broken partition layout — and a negative count yields negative
    partition values; fail loudly at build time like the
    analytics/curation n_buckets guards do."""
    if int(n_buckets) < 1:
        raise ValueError(
            f"{op}: n_buckets must be >= 1, got {n_buckets} "
            "(pmod by 0 is NULL — the bucket layout would be broken)"
        )

_INTEGRAL_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}


def _integral_narrowing(src, dst) -> bool:
    """True when casting ``src`` to ``dst`` can WRAP integer values
    (long→int etc., including array element types) — the lossy class
    :func:`_conform_to_existing` refuses instead of applying."""
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return _integral_narrowing(src.elementType, dst.elementType)
    rs, rd = _INTEGRAL_RANK.get(type(src)), _INTEGRAL_RANK.get(type(dst))
    return rs is not None and rd is not None and rs > rd


def _conform_to_existing(
    rows: DataFrame,
    path: str,
    skip: Sequence[str] = (),
    stored_schema=None,
) -> DataFrame:
    """Cast every column that already exists in the layout at ``path`` to
    its STORED type before appending.

    Extension batches carry pass-through columns (ids, vectors) whose
    types come from the caller's source, not from the index: an
    ``array<double>`` batch appended to an ``array<float>`` base — or an
    ``int`` id into a ``bigint`` base — writes parquet files the unified
    multi-batch scan cannot read (PARQUET_COLUMN_DATA_TYPE_MISMATCH).
    Normalizing at the layout boundary (the bloom key-type rule) fixes
    this once for all four indexes. INTEGRAL NARROWING is refused, not
    applied: a bigint id cast into an int-id base wraps or nulls
    silently (the bloom rule again — non-widenable mixes raise), and a
    wrapped id corrupts every dedup/upsert-by-id downstream. Float
    narrowing (double → float) stays allowed — bounded precision loss
    is the vector case this conformance exists for. A missing path means
    a fresh base write — nothing to conform to; any OTHER read failure
    propagates (the streaming_psi guard rule: swallowing it would mask a
    corrupt layout). PARTITION columns (``skip``) are exempt from both
    the cast and the refusal: they have no physical parquet type (the
    value lives in the directory name, whose string form is
    width-independent), and the stored reader type is directory-name
    INFERENCE — e.g. a bigint cell id written by the base build reads
    back as int, which the refusal would flag as narrowing when no byte
    of storage is at stake. ``stored_schema`` lets a caller that has
    already read the layout's schema (the IVF extender reads it for the
    _codes probe) skip the duplicate parquet footer listing."""
    if stored_schema is None:
        existing = _read_or_none(rows.sparkSession, path)
        if existing is None:
            return rows
        stored_schema = existing.schema
    stored = {f.name: f.dataType for f in stored_schema.fields}
    incoming = {f.name: f.dataType for f in rows.schema.fields}
    exempt = set(skip) | {"_batch_id"}
    narrowed = [
        c
        for c in rows.columns
        if c in stored
        and c not in exempt
        and _integral_narrowing(incoming[c], stored[c])
    ]
    if narrowed:
        detail = ", ".join(
            f"{c}: {incoming[c].simpleString()} -> {stored[c].simpleString()}"
            for c in narrowed
        )
        raise ValueError(
            f"index extension batch would NARROW integral column(s) "
            f"{narrowed} to the stored layout's type ({detail}); "
            "out-of-range values would wrap silently. Rebuild the index "
            "with the wider type instead."
        )
    return rows.select(
        *(
            F.col(c).cast(stored[c]).alias(c)
            if c in stored and c not in exempt
            else F.col(c)
            for c in rows.columns
        )
    )


def write_index_rows(
    rows: DataFrame,
    path: str,
    *,
    partition_cols: Sequence[str] = (),
    sort_col: "str | None" = None,
    n_files: "int | None" = None,
    batch_id: int = BASE_BATCH_ID,
    extend: bool = False,
) -> None:
    """Write one batch of index data rows under the family layout.

    ``partition_cols`` are the pruning keys (``_batch_id`` is always
    appended); ``n_files`` repartitions on the first partition col so
    each partition directory gets a bounded file count; ``sort_col``
    sorts within files for row-group skipping on point lookups.
    ``extend=False`` (base build) is a full overwrite of ``path``;
    ``extend=True`` switches to dynamic partition overwrite — the
    replay-idempotence mechanism: a re-delivered ``batch_id`` replaces
    its own partitions and touches nothing else — and conforms the
    batch's column types to the stored layout's
    (:func:`_conform_to_existing`)."""
    if extend:
        rows = _conform_to_existing(rows, path, skip=partition_cols)
    _write_tagged(
        rows, path, batch_id, partition_cols=partition_cols,
        sort_col=sort_col, n_files=n_files, dynamic=extend,
    )


def _write_tagged(
    rows: DataFrame,
    path: str,
    batch_id: int,
    *,
    partition_cols: Sequence[str] = (),
    sort_col: "str | None" = None,
    n_files: "int | None" = None,
    coalesce: "int | None" = None,
    dynamic: bool = True,
) -> None:
    """THE ``_batch_id`` writer: tag ``rows`` with ``batch_id`` and write
    them partitioned by ``partition_cols`` plus ``_batch_id``. With
    ``dynamic`` (every streaming write) the overwrite is per partition,
    so a replayed batch id replaces exactly its own rows; without it the
    whole of ``path`` is replaced (base builds, compaction outputs).
    Writes exactly what it is given — type conformance against the
    stored layout is :func:`write_index_rows`' job, so a gate writing its
    own partials pays no schema read."""
    out = rows.withColumn("_batch_id", F.lit(int(batch_id)))
    if n_files and partition_cols:
        out = out.repartition(int(n_files), partition_cols[0])
    if sort_col is not None:
        out = out.sortWithinPartitions(sort_col)
    if coalesce:
        out = out.coalesce(int(coalesce))
    writer = out.write.mode("overwrite")
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(*partition_cols, "_batch_id").parquet(path)


def write_meta(meta_df: DataFrame, path: str) -> None:
    """Overwrite the index's one-row meta parquet (``<path>/meta``)."""
    meta_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def read_meta(spark: SparkSession, path: str):
    """The index or gate-state meta row (driver-side — metadata-scale by
    contract). A path without meta is not an initialized index or gate
    state: ValueError naming it, never a raw PATH_NOT_FOUND."""
    meta = read_meta_or_none(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} has no meta — not an initialized index or gate state "
            "(every builder and gate writes meta when it initializes)"
        )
    return meta


def _read_or_none(spark: SparkSession, path: str) -> "DataFrame | None":
    """``spark.read.parquet(path)``, or ``None`` when nothing has been
    written there yet: the path is missing (PATH_NOT_FOUND) or holds no
    parquet file (UNABLE_TO_INFER_SCHEMA). Any other read failure
    (corrupt footer, permissions) propagates — swallowing it would let a
    first-invocation branch overwrite frozen state. The one
    missing-path rule of the index and gate families."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        err = exc.getCondition() or str(exc)
        if "PATH_NOT_FOUND" not in err and "UNABLE_TO_INFER_SCHEMA" not in err:
            raise
        return None


def replace_meta(spark: SparkSession, path: str, **fields) -> DataFrame:
    """The meta row stored at ``<path>/meta`` with ``fields`` replaced, in
    the stored schema — so each family's meta schema is written only by
    its builder. The frame is built from the collected row, never lazily
    over ``<path>/meta``, so it can overwrite the meta it was read from."""
    stored = spark.read.parquet(f"{path}/meta")
    row = {**stored.first().asDict(), **fields}
    return local_frame(
        spark, [tuple(row[f.name] for f in stored.schema.fields)], stored.schema
    )


def read_meta_or_none(spark: SparkSession, path: str):
    """:func:`read_meta`, returning ``None`` when the meta does not exist
    yet (a gate's first invocation) — :func:`_read_or_none`'s rule."""
    meta = _read_or_none(spark, f"{path}/meta")
    return None if meta is None else meta.first()


def publish_index(spark: SparkSession, manifest_path: str, index_path: str) -> int:
    """Record ``index_path`` as the NEWEST version of an index in a tiny
    versioned manifest — the swap half of the swap-then-expire contract
    :func:`~building_a_rag_pipeline_with_airflow_spark.operators.similarity.recluster_ivf_index`
    (and ``compact_parquet``) defer to.

    The manifest is parquet rows partitioned by ``version``; a publish
    appends one row under ``version=N+1``, so concurrent READERS either
    resolve the old version or the new one — never a half-swapped index
    (the new index directory is fully written before publish is called,
    and the old one is untouched until :func:`expire_index_versions`).
    Publishing is a single-writer maintenance operation, like the
    rebuild itself — two concurrent publishers could mint the same
    version number. Returns the new version."""
    manifest = _read_or_none(spark, manifest_path)
    prev = None
    if manifest is not None:
        prev = manifest.agg(F.max("version").cast("int").alias("v")).first()["v"]
    version = (prev or 0) + 1
    spark.createDataFrame(
        [(version, index_path)], "version int, index_path string"
    ).coalesce(1).write.mode("append").partitionBy("version").parquet(manifest_path)
    return version


def current_index(spark: SparkSession, manifest_path: str) -> str:
    """Resolve the manifest to the newest published index path — what
    every reader calls instead of hard-coding an index directory, so an
    offline rebuild becomes visible with one :func:`publish_index`."""
    row = (
        spark.read.parquet(manifest_path)
        .orderBy(F.desc("version"))
        .select("index_path")
        .first()
    )
    return row["index_path"]


def expire_index_versions(
    spark: SparkSession, manifest_path: str, keep_latest: int = 2
) -> "list[str]":
    """The expire half of swap-then-expire: delete the index DIRECTORIES
    of all but the ``keep_latest`` newest manifest versions, drop their
    manifest rows, and return the deleted paths.

    ``keep_latest`` must be ≥ 1 (the current version is never
    expendable); keeping 2 is the safe default — readers that resolved
    the previous version just before a publish may still be mid-query on
    it, so expire runs as a later maintenance pass, not in the same
    breath as the publish (the grace period is the caller's scheduling
    decision). Versions whose ``index_path`` is also published under a
    RETAINED version are dropped from the manifest but their directory
    is left alone."""
    if keep_latest < 1:
        raise ValueError("expire_index_versions: keep_latest must be >= 1")
    rows = (
        spark.read.parquet(manifest_path)
        .select("version", "index_path")
        .collect()  # manifest-scale: one row per publish
    )
    by_version = {int(r["version"]): r["index_path"] for r in rows}
    versions = sorted(by_version)
    drop = versions[:-keep_latest]
    kept_paths = {by_version[v] for v in versions[-keep_latest:]}
    jvm_manifest = spark._jvm.org.apache.hadoop.fs.Path(manifest_path)
    fs = jvm_manifest.getFileSystem(spark._jsc.hadoopConfiguration())
    deleted = []
    for v in drop:
        path = by_version[v]
        if path not in kept_paths:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(path), True)
            deleted.append(path)
        fs.delete(
            spark._jvm.org.apache.hadoop.fs.Path(f"{manifest_path}/version={v}"),
            True,
        )
    return deleted


def require_fresh_output(
    spark: SparkSession, op: str, source: str, out_path: str, what: str
) -> str:
    """The write-into-own-layout guard of :func:`consolidate_index` and
    ``streaming.ingest.compact_gate_state``: raise unless ``out_path`` is
    outside the ``source`` directory ``op`` reads (``what`` names it in
    the message), since a write into or under its own scan input would
    corrupt it mid-read. Returns ``out_path`` without a trailing slash,
    the caller's spelling to write under.

    Both paths are compared in a canonical form: qualified through the
    path's Hadoop filesystem — which resolves scheme, authority, and
    working directory, so ``file:///tmp/x``, ``file:/tmp/x`` and
    ``/tmp/x`` all compare EQUAL instead of a URI spelling slipping
    past a string comparison — then, for local file URIs, with
    symlinks/``..`` resolved so filesystem aliases of one directory
    compare equal too. Non-file schemes (hdfs://, s3a://) keep the
    qualified URI form: realpath cannot reason about them and object
    stores have no symlinks."""

    def canonical(path):
        jp = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") or path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        uri = fs.makeQualified(jp).toUri()
        if uri.getScheme() == "file":
            return "file://" + os.path.realpath(uri.getPath())
        return uri.toString().rstrip("/")

    src, dst = canonical(source), canonical(out_path)
    if dst == src or dst.startswith(src + "/"):
        raise ValueError(
            f"{op}: out_path {out_path!r} must be a fresh directory outside "
            f"the {what} {source!r}: a write into (or under) its own scan "
            "input would corrupt it mid-read"
        )
    return out_path.rstrip("/")


def start_extender(
    stream: DataFrame,
    checkpoint_path: str,
    write_batch: Callable[[DataFrame, int], None],
    available_now: bool = True,
):
    """The family's ``foreachBatch`` wiring: checkpointed, append-mode,
    optionally drained with ``availableNow`` (test/batch-catch-up mode).
    ``write_batch`` receives (batch_df, batch_id) and is responsible for
    writing with :func:`write_index_rows` ``extend=True`` so replays stay
    idempotent."""
    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass(frozen=True)
class PostingsFamily:
    """One bucketed-postings index family (shingle, ExactSubstr windows,
    trigram grams, BM25 terms) as data: where its rows live, their key
    and denormalized count column (with the count's STORED type), the
    one row derivation its builder and its extender both run, and its
    side tables.

    ``derive(df, params)`` explodes documents to posting rows holding
    ``key``; ``params`` are the family's column names plus its frozen
    build constants (a builder passes its arguments, an extender the
    stored meta row — the same field names). ``sides`` are
    ``(subdir, make)`` pairs, ``make(df, rows, params)`` giving the side
    table a batch writes beside its postings (shingle doc sizes, trigram
    names, BM25 batch stats)."""

    rows_subdir: str
    key: str
    count: str
    count_type: str
    derive: Callable[[DataFrame, Mapping], DataFrame]
    sides: "tuple[tuple[str, Callable], ...]" = ()

    def side_frames(self, df: DataFrame, rows: DataFrame, params: Mapping):
        return [(sub, make(df, rows, params)) for sub, make in self.sides]


def bucket_of(key: "Column | str", n: int) -> Column:
    """THE bucket rule of every hash-bucketed layout, ``pmod(xxhash64(key),
    n)`` as int: the postings families' ``bucket`` and the chunk index's
    ``doc_bucket``. Writers and readers must agree on it, or partition
    pruning silently misses rows."""
    return F.pmod(F.xxhash64(key), F.lit(int(n))).cast("int")


def write_postings(
    family: PostingsFamily, rows: DataFrame, path: str, n_buckets: int,
    sides=(), *, batch_id: int = BASE_BATCH_ID, extend: bool = False,
) -> None:
    """THE postings write of a :class:`PostingsFamily`: count ``rows`` per
    key (cast to the family's stored count type), join the counts back,
    hash-bucket by :func:`bucket_of` and write sorted by
    key under ``<path>/<rows_subdir>``; then each ``(subdir, frame)`` side
    table under the same batch. Its three callers differ only in what
    they hand it: a base build gives the corpus' rows (batch ``-1``,
    corpus-wide counts), an extender a micro-batch's rows (``extend``,
    batch-local counts), consolidation the stored rows minus their count
    (a corpus-wide recount)."""
    key, n_buckets = family.key, int(n_buckets)
    counts = rows.groupBy(key).agg(
        F.count("*").cast(family.count_type).alias(family.count)
    )
    write_index_rows(
        rows.join(counts, key).withColumn("bucket", bucket_of(key, n_buckets)),
        f"{path}/{family.rows_subdir}", partition_cols=("bucket",),
        sort_col=key, n_files=n_buckets, batch_id=batch_id, extend=extend,
    )
    for sub, frame in sides:
        write_index_rows(frame, f"{path}/{sub}", batch_id=batch_id, extend=extend)


def start_pinned_extender(
    stream: DataFrame, index_path: str, checkpoint_path: str,
    derive: Callable, write: Callable, available_now: bool = True,
    params: "Mapping | None" = None,
):
    """The extension skeleton of the derived-row indexes. Per batch: bind
    the frozen build meta and the caller's ``params`` into one dict ``p``
    (params win); ``derive(batch_df, p)`` the index rows and pin them
    with a narrow eager ``localCheckpoint`` (the write reads them more
    than once: counts, rows, side tables); skip a batch that derives to
    zero rows (an empty batch, all-blank docs, every doc under the frozen
    k...); else ``write(batch_df, rows, p, batch_id)``. The pinned blocks
    are released on every path — a skipped batch or a failed write
    (Structured Streaming retries it) must not leak one pinned RDD per
    batch."""
    from building_a_rag_pipeline_with_airflow_spark.operators import pinned

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        meta = read_meta(batch_df.sparkSession, index_path)
        p = {**meta.asDict(), **(params or {})}
        with pinned(derive(batch_df, p)) as rows:
            if not rows.isEmpty():
                write(batch_df, rows, p, batch_id)

    return start_extender(stream, checkpoint_path, write_batch, available_now)


def start_postings_extender(
    stream: DataFrame, index_path: str, checkpoint_path: str,
    family: PostingsFamily, params: Mapping, available_now: bool = True,
):
    """Grow a :class:`PostingsFamily` index from a stream of NEW documents
    (:func:`start_pinned_extender`): each non-empty batch derives with the
    family's own ``derive`` under the stored meta, flips
    ``meta.extended`` BEFORE its rows land (:func:`replace_meta` keeps the
    builder's meta schema), then writes batch-local counts and side
    tables under its ``_batch_id`` (:func:`write_postings`, dynamic
    overwrite → a replayed batch replaces its own rows).

    The flip-first order is the family's crash rule: a reader between the
    writes must never see extension rows under ``extended=False``, where
    the pushed batch-local count guard would miss a key crossing its cap
    only ACROSS batches; the reverse gap is safe (a recount over
    base-only rows reproduces the stored counts exactly). A zero-row
    batch leaves the index on its pushed-predicate fast path."""

    def write(batch_df: DataFrame, rows: DataFrame, p: dict, batch_id: int) -> None:
        if not p["extended"]:
            spark = batch_df.sparkSession
            write_meta(replace_meta(spark, index_path, extended=True), index_path)
        write_postings(
            family, rows, index_path, p["n_buckets"],
            family.side_frames(batch_df, rows, p), batch_id=batch_id, extend=True,
        )

    return start_pinned_extender(
        stream, index_path, checkpoint_path, family.derive, write, available_now,
        params,
    )


def consolidate_index(
    spark: SparkSession, family: PostingsFamily, path: str, out_path: str,
    manifest_path: "str | None" = None, *, meta_fields: "Mapping | None" = None,
    folded: "Mapping[str, DataFrame] | None" = None,
) -> "int | None":
    """Re-base an EXTENDED :class:`PostingsFamily` index into a fresh
    single-batch layout at ``out_path`` — the text-side twin of the
    vector side's ``recluster_ivf_index``. Once an extender flips
    ``meta.extended``, the stored count column is batch-local and every
    query pays the in-plan recount instead of the pushed-predicate fast
    path. Consolidation recounts it CORPUS-WIDE over every ``_batch_id``
    partition and rewrites the layout as a fresh base build (batch
    ``-1``, ``extended=False``), so queries regain the pushed guard.

    The stored rows are the ONLY input, never a corpus re-tokenization:
    they lose their stale count and go through :func:`write_postings`
    like a build's rows (the postings parquet is scanned twice — by the
    recount and by the rewrite's join probe — a deliberate trade: pinning
    corpus-scale rows would break the narrow-output-only checkpoint
    rule). Side tables are batch-independent payloads, copied under
    batch ``-1`` — except those a caller passes already ``folded`` (BM25's
    summed ``batch_stats``). The meta is the source's with
    ``extended=False`` plus ``meta_fields``.

    Publishing: ``out_path`` must be a NEW directory (never ``path``
    itself — Spark cannot overwrite its own scan input; raised loudly).
    Readers keep resolving the OLD index until the swap: pass
    ``manifest_path`` to :func:`publish_index` the finished layout (the
    swap half of swap-then-expire; returns the new version), then retire
    the old directory later with :func:`expire_index_versions`. Like the
    IVF rebuild, consolidation is a single-writer offline maintenance
    operation — run it when extension volume has eroded query latency,
    never per arrival. A new extender (fresh checkpoint) can then grow
    the consolidated index from batch 0 again."""
    out = require_fresh_output(
        spark, "consolidate_index", path, out_path, "source layout"
    )
    n_buckets = read_meta(spark, path)["n_buckets"]
    folded = folded or {}
    rows = spark.read.parquet(f"{path}/{family.rows_subdir}")
    sides = [
        (sub, folded.get(sub) or spark.read.parquet(f"{path}/{sub}").drop("_batch_id"))
        for sub, _ in family.sides
    ]
    write_postings(
        family, rows.drop(family.count, "bucket", "_batch_id"), out, n_buckets, sides
    )
    write_meta(replace_meta(spark, path, extended=False, **(meta_fields or {})), out)
    return None if manifest_path is None else publish_index(spark, manifest_path, out)
