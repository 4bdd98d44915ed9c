"""``ingest``: streamed document drops into the dense and BM25 indexes.

Set-up writes an initial corpus, builds its BM25 postings index
(``build_postings_index``) and a bucketed chunk index without ``keep_cols``
(``write_index_bucketed``, the ``upsert_documents`` target), then runs one
warm-up drop cycle. One op is one drop cycle:

1. a drop of new documents lands as parquet files in the landing directory;
2. ``streaming_build_index`` and ``streaming_extend_postings_index`` drain it
   with ``availableNow``;
3. ``upsert_documents`` rewrites a seeded set of revised initial documents;
4. a freshness read: a dense ``rag_query`` over the streamed index and a
   ``bm25_topk_from_index`` over the extended postings must both return a
   document of this drop.

Each drop is an organic replica: its tokens carry a drop-specific suffix, so
its terms occur in no earlier drop.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

import corpus

N_INITIAL = 300
DROP_DOCS = 300
MAX_DROPS = 4  # per measured phase
N_REVISED = 20
# a few dozen chunks per bucket at this corpus size; an upsert of N_REVISED
# documents then rewrites most buckets but not all
N_DOC_BUCKETS = 16
K = 5
DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_SOURCE_ID = re.compile(r"Source \[\d+\] \((\d+)\):")


def _dir_stats(*paths) -> "tuple[int, int]":
    """(parquet files, bytes) under ``paths``."""
    files = size = 0
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def setup(ctx, smoke: bool = False):
    from building_a_rag_pipeline_with_airflow_spark.operators.lexical import (
        build_postings_index,
    )
    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        write_index_bucketed,
    )

    w = f"{ctx.work}/ingest"
    initial = corpus.base_docs(200 if smoke else N_INITIAL, ctx.seed)
    corpus.write_parquet(initial, f"{w}/initial", n_files=2)
    docs = ctx.spark.read.parquet(f"{w}/initial")
    st = {
        "w": w,
        "drop_docs": 100 if smoke else DROP_DOCS,
        "n_revised": 20 if smoke else N_REVISED,
        "max_drops": 1 if smoke else MAX_DROPS,
        "initial": initial,
        "texts": dict(zip(initial["doc_id"], initial["text"])),
        "landing": f"{w}/landing",
        "stream_index": f"{w}/stream_index",
        "postings": f"{w}/postings",
        "bucketed": f"{w}/bucketed",
        "n_drops": 0,
        "rng": random.Random(ctx.seed),
        "files": [],
        "read_lat": [],
    }
    build_postings_index(docs, st["postings"])
    write_index_bucketed(build_index(docs), st["bucketed"], N_DOC_BUCKETS)
    if not smoke:
        run_op(ctx, st, _next_drop(ctx, st))  # warm-up: compiles the drop's plans
    st["read_lat"].clear()
    return st


def _drop_tag(seed: int, i: int) -> str:
    return f"_s{seed % 997}d{i}"


def _next_drop(ctx, st) -> dict:
    st["n_drops"] += 1
    i = st["n_drops"]
    docs = corpus.tagged(
        corpus.base_docs(st["drop_docs"], ctx.seed * 1009 + i),
        _drop_tag(ctx.seed, i),
        i * corpus.REPLICA_ID_STRIDE,
    )
    rng = st["rng"]
    revised = corpus.select(
        st["initial"], rng.sample(range(len(st["initial"]["doc_id"])), st["n_revised"])
    )
    fresh = corpus.base_docs(st["n_revised"], ctx.seed * 2003 + i)
    revised["text"] = [t + f" rev{i}" for t in fresh["text"]]
    revised["n_chars"] = [len(t) for t in revised["text"]]
    j = rng.randrange(st["drop_docs"])
    return {"i": i, "docs": docs, "revised": revised,
            "probe_text": docs["text"][j]}


def rounds(ctx, st):
    """Rounds of one drop each, at most ``max_drops`` per measured phase."""
    for _ in range(st["max_drops"]):
        yield [_next_drop(ctx, st)]


def _drain(ctx, name, start):
    """Run one availableNow streaming query to completion inside a span.
    ``foreachBatch`` jobs run on the stream's thread without the span's job
    group, so the span also records the stream's own trigger timings and
    how many new jobs had no group at all."""
    tr, tracker = ctx.tracer, ctx.sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None)) if tr.enabled else set()
    with tr.span(name) as sp:
        q = start()
        q.awaitTermination()
    if sp is not None:
        dur = [p["durationMs"] for p in q.recentProgress]
        add = sum(d.get("addBatch", 0) for d in dur) / 1e3
        sp.attrs["add_batch_s"] = add
        sp.attrs["trigger_overhead_s"] = (
            sum(d.get("triggerExecution", 0) for d in dur) / 1e3 - add
        )
        sp.attrs["ungrouped_jobs"] = len(
            set(tracker.getJobIdsForGroup(None)) - ungrouped
        )


def run_op(ctx, st, op):
    """One drop cycle; raises if a freshness read misses the drop."""
    from building_a_rag_pipeline_with_airflow_spark.operators.lexical import (
        bm25_topk_from_index,
    )
    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        rag_query,
        upsert_documents,
    )
    from building_a_rag_pipeline_with_airflow_spark.streaming.ingest import (
        load_streaming_index,
        read_documents_stream,
        streaming_build_index,
        streaming_extend_postings_index,
    )

    spark, tr, w, i = ctx.spark, ctx.tracer, st["w"], op["i"]
    corpus.write_parquet(op["docs"], f"{st['landing']}/d{i}", n_files=2)
    corpus.write_parquet(op["revised"], f"{w}/revisions/r{i}")
    glob = f"{st['landing']}/*"
    if tr.enabled:
        before = _dir_stats(st["stream_index"], st["postings"])
        in_bytes = _dir_stats(f"{st['landing']}/d{i}")[1]
    _drain(ctx, "streaming.ingest.build_index", lambda: streaming_build_index(
        read_documents_stream(spark, glob, schema=DDL),
        st["stream_index"], f"{w}/ckpt_stream_index",
    ))
    _drain(ctx, "streaming.ingest.extend_postings", lambda: streaming_extend_postings_index(
        read_documents_stream(spark, glob, schema=DDL),
        st["postings"], f"{w}/ckpt_postings",
    ))
    with tr.span("pipeline.upsert") as sp:
        buckets = upsert_documents(
            spark, st["bucketed"], spark.read.parquet(f"{w}/revisions/r{i}"),
            n_doc_buckets=N_DOC_BUCKETS,
        )
    if sp is not None:
        _, rewritten = _dir_stats(*(f"{st['bucketed']}/doc_bucket={b}" for b in buckets))
        _, changed = _dir_stats(f"{w}/revisions/r{i}")
        sp.attrs["buckets"] = len(buckets)
        sp.attrs["rewritten_per_changed"] = rewritten / changed
    st["texts"].update(zip(op["revised"]["doc_id"], op["revised"]["text"]))
    t = time.perf_counter()
    with tr.span("pipeline.fresh_read.dense"):
        ctxt = rag_query(
            load_streaming_index(spark, st["stream_index"]), op["probe_text"], k=K
        ).collect()[0]["context"]
    terms = sorted(set(op["probe_text"].split(" ")))[:3]
    with tr.span("pipeline.fresh_read.bm25"):
        hits = bm25_topk_from_index(spark, st["postings"], terms, k=K).collect()
    st["read_lat"].append(time.perf_counter() - t)
    if tr.enabled:
        files, size = _dir_stats(st["stream_index"], st["postings"])
        st["files"].append((files - before[0], (size - before[1]) / in_bytes, files))
    lo, hi = i * corpus.REPLICA_ID_STRIDE, (i + 1) * corpus.REPLICA_ID_STRIDE
    dense_fresh = any(lo <= int(d) < hi for d in _SOURCE_ID.findall(ctxt))
    bm25_fresh = any(lo <= r["doc_id"] < hi for r in hits)
    if not (dense_fresh and bm25_fresh):
        raise AssertionError(f"drop {i}: a freshness read missed the new documents")
    return len(buckets)


def probe(ctx, st, op, tracer):
    """Traced runs only: materialize the chunker on this drop's documents."""
    from building_a_rag_pipeline_with_airflow_spark.pipeline import chunk_documents

    drop_dir = f"{st['landing']}/d{op['i']}"
    with tracer.span("operators.chunking") as sp:
        sp.attrs["chunks_per_doc"] = (
            chunk_documents(ctx.spark.read.parquet(drop_dir)).count() / st["drop_docs"]
        )


def read_latencies(st, lat):
    """The freshness reads (dense plus BM25 query) of the drops since the
    last call, one per drop."""
    reads, st["read_lat"] = st["read_lat"], []
    return reads


def traced_extra(ctx, st, tracer):
    return []


def check(ctx, st, done):
    """Whole-state checks after the timed region; a failure marks the last
    drop as failed. The streamed dense index must equal a batch
    ``build_index`` over every landed drop; the upserted index must equal a
    batch build of the revised initial corpus (so no stale chunk survives);
    the extended BM25 index must rank like the in-plan ``bm25_topk``."""
    from building_a_rag_pipeline_with_airflow_spark.operators.lexical import (
        bm25_topk,
        bm25_topk_from_index,
    )
    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        read_index_bucketed,
    )
    from building_a_rag_pipeline_with_airflow_spark.streaming.ingest import (
        load_streaming_index,
    )

    if not done:
        return []
    spark = ctx.spark

    def same(a, b) -> bool:
        return _fingerprint(a) == _fingerprint(b)

    landed = spark.read.parquet(f"{st['landing']}/*")
    ok = same(load_streaming_index(spark, st["stream_index"]), build_index(landed))
    current = dict(st["initial"])
    current["text"] = [st["texts"][d] for d in current["doc_id"]]
    current["n_chars"] = [len(t) for t in current["text"]]
    revised_df = spark.createDataFrame(list(zip(*current.values())), DDL)
    ok = ok and same(read_index_bucketed(spark, st["bucketed"]), build_index(revised_df))
    all_docs = landed.unionByName(spark.read.parquet(f"{st['w']}/initial"))
    rng = random.Random(ctx.seed + 1)
    i = rng.randint(0, st["n_drops"])
    tag = _drop_tag(ctx.seed, i) if i else ""
    # one term of the initial corpus, one of a drop: the extended df/n_docs path
    terms = [rng.choice(corpus.VOCAB), rng.choice(corpus.VOCAB) + tag]
    got = bm25_topk_from_index(spark, st["postings"], terms, k=K).collect()
    want = bm25_topk(all_docs, terms, k=K).collect()
    ok = ok and [tuple(r) for r in got] == [tuple(r) for r in want]
    return [] if ok else [len(done) - 1]


def _fingerprint(df) -> tuple:
    """(row count, sum of 64-bit row hashes): equal multisets of rows give
    equal fingerprints, in one aggregate with no shuffle."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), row["h"]


def layer_metrics(ctx, st, tracer, traced_ops):
    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def per_drop(prefix, field):
        """Median over drops of ``field`` summed over the drop's spans whose
        name starts with ``prefix``."""
        def value(c):
            return c.duration if field == "duration" else c.attrs.get(field, 0)

        return med(
            sum(value(c) for c in tracer.spans if c.op == s.op and c.name.startswith(prefix))
            for s, _ in traced_ops
        )

    upserts = tracer.named("pipeline.upsert")
    bm25 = tracer.named("pipeline.fresh_read.bm25")
    f = st["files"]
    return {
        "operators.chunking.chunks_per_doc": med(
            s.attrs["chunks_per_doc"] for s in tracer.named("operators.chunking")
        ),
        "streaming.ingest.add_batch_s": per_drop("streaming.ingest.", "add_batch_s"),
        "streaming.ingest.trigger_overhead_s": per_drop(
            "streaming.ingest.", "trigger_overhead_s"
        ),
        "streaming.ingest.jobs_per_drop": per_drop("streaming.ingest.", "jobs"),
        "streaming.ingest.ungrouped_jobs_per_drop": per_drop(
            "streaming.ingest.", "ungrouped_jobs"
        ),
        "sources.index_layout.files_written_per_drop": med(x[0] for x in f),
        "sources.index_layout.index_files_total": f[-1][2] if f else 0,
        "sources.index_layout.bytes_written_per_input_byte": med(x[1] for x in f),
        "pipeline.upsert_s": med(s.duration for s in upserts),
        "pipeline.upsert_buckets_rewritten": med(s.attrs["buckets"] for s in upserts),
        "pipeline.upsert_bytes_rewritten_per_changed_byte": med(
            s.attrs["rewritten_per_changed"] for s in upserts
        ),
        "pipeline.fresh_read_p50_s": per_drop("pipeline.fresh_read.", "duration"),
        "operators.lexical.bm25_from_index_s": med(s.duration for s in bm25),
        "operators.lexical.postings_rows_read": med(
            s.attrs["input_records"] for s in bm25
        ),
    }


def docs_per_op(st, op) -> int:
    return st["drop_docs"]
