"""``serve``: single top-k context requests over a persisted, compacted index.

Set-up generates a corpus of ``N_REPLICAS`` organic replicas
(``corpus.replicate``; one at the size the run budget allows), builds its
chunk/embedding index with ``build_index(keep_cols=("source",))`` and writes
it with ``write_index_bucketed`` in ``N_DOC_BUCKETS`` buckets (a few files
each at this corpus size, as the function's docstring advises). The client
then sends one request at a time, in rounds of 10 whose order the seed
shuffles:

* 5 dense ``rag_query``;
* 3 hybrid ``rag_query`` with a ``source == ...`` prefilter;
* 2 ``rag_query(diversity="mmr")``, so the 90th percentile of the two
  untraced rounds of a traced run falls among the MMR requests, the
  slowest kind.

BM25 requests are not part of the mix: building the postings index would
add a cold build to every run's set-up, and ``ingest`` already measures
``bm25_topk_from_index`` in its freshness reads.

Traced runs also measure the curation layers once (``curate.py``).
"""

from __future__ import annotations

import random
import statistics
import traceback

import corpus
import curate

N_BASE_DOCS = 2000
N_REPLICAS = 1
N_DOC_BUCKETS = 8
ROUND = ("dense",) * 5 + ("hybrid",) * 3 + ("mmr",) * 2
K = 5
N_CHECKED = 2  # dense and hybrid requests re-checked per kind


def setup(ctx, smoke: bool = False):
    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        read_index_bucketed,
        write_index_bucketed,
    )

    n_base, n_rep = (200, 2) if smoke else (N_BASE_DOCS, N_REPLICAS)
    cols = corpus.shuffled(
        corpus.replicate(corpus.base_docs(n_base, ctx.seed), n_rep, ctx.seed),
        ctx.seed,
    )
    docs_path = f"{ctx.work}/serve/docs"
    corpus.write_parquet(cols, docs_path, n_files=8)
    spark = ctx.spark
    docs = spark.read.parquet(docs_path)
    st = {
        "n_docs": len(cols["doc_id"]),
        "n_replicas": n_rep,
        "index_path": f"{ctx.work}/serve/index",
        "rng": random.Random(ctx.seed),
    }
    write_index_bucketed(
        build_index(docs, keep_cols=("source",)), st["index_path"], N_DOC_BUCKETS
    )
    st["index"] = read_index_bucketed(spark, st["index_path"])
    # warm-up: one request of each kind compiles the plans a serving
    # session would already have warm
    warm = next(_rounds(random.Random(ctx.seed + 2), st, ctx.seed))
    for kind in ("dense", "hybrid", "mmr"):
        run_op(ctx, st, next(op for op in warm if op["kind"] == kind))
    return st


def _words(rng, n, n_replicas, seed):
    """``n`` query words of one random replica."""
    tag = corpus.replica_tag(seed, rng.randrange(n_replicas))
    return [rng.choice(corpus.VOCAB) + tag for _ in range(n)]


def rounds(ctx, st):
    """Endless rounds of requests (a round is a list of ops)."""
    return _rounds(st["rng"], st, ctx.seed)


def _rounds(rng, st, seed):
    while True:
        kinds = list(ROUND)
        rng.shuffle(kinds)
        ops = []
        for kind in kinds:
            op = {"kind": kind, "query": " ".join(_words(rng, 6, st["n_replicas"], seed))}
            if kind == "hybrid":
                op["source"] = f"src{rng.randrange(corpus.N_SOURCES)}"
            ops.append(op)
        yield ops


def run_op(ctx, st, op):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.pipeline import rag_query

    kind = op["kind"]
    if kind == "dense":
        out = rag_query(st["index"], op["query"], k=K)
    elif kind == "hybrid":
        out = rag_query(
            st["index"], op["query"], k=K, prefilter=F.col("source") == op["source"]
        )
    else:
        out = rag_query(st["index"], op["query"], k=K, diversity="mmr")
    row = out.collect()[0]
    return (row["context"], row["n_sources"])


def probe(ctx, st, op, tracer):
    """Traced runs only: time the layers under a dense or hybrid request on
    the same inputs, after the request itself."""
    if op["kind"] not in ("dense", "hybrid"):
        return
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.functions.embed import embed_text
    from building_a_rag_pipeline_with_airflow_spark.operators.similarity import (
        topk_cosine,
    )

    with tracer.span("functions.embed.query_embed"):
        qvec = embed_text(op["query"])
    pre = F.col("source") == op["source"] if op["kind"] == "hybrid" else None
    with tracer.span("operators.similarity.topk"):
        topk_cosine(st["index"], qvec, k=K, id_col="chunk_id", prefilter=pre).collect()


def check(ctx, st, done):
    """Re-derive a seeded sample of dense/hybrid contexts by brute force in
    DuckDB over the persisted index. Returns the indices of ops whose
    answer is wrong."""
    import duckdb

    from building_a_rag_pipeline_with_airflow_spark.functions.embed import embed_text

    rng = random.Random(ctx.seed + 1)
    bad = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        "CREATE VIEW idx AS SELECT * FROM read_parquet("
        f"'{st['index_path']}/*/*.parquet', hive_partitioning = true)"
    )
    for kind in ("dense", "hybrid"):
        idxs = [i for i, (op, _) in enumerate(done) if op["kind"] == kind]
        for i in rng.sample(idxs, min(N_CHECKED, len(idxs))):
            op, got = done[i]
            where = f"WHERE source = '{op['source']}'" if kind == "hybrid" else ""
            if got != _duckdb_context(con, embed_text(op["query"]), where):
                bad.append(i)
    con.close()
    for i, (op, got) in enumerate(done):
        if op["kind"] == "curate" and got != curate.oracle(op["sf_dir"]):
            bad.append(i)
    return bad


def _duckdb_context(con, qvec, where):
    """Brute-force top-k context in DuckDB, replaying the engine's
    sequential dot/norm folds in double and its 4dp score rounding, with
    the ``chunk_id`` tiebreak."""
    fold = "(a, b) -> a + b"
    sql = f"""
    WITH s AS (
      SELECT chunk_id, doc_id, text,
             list_reduce(list_transform(e, (x, i) -> x * q[i]), {fold}) AS dot,
             sqrt(list_reduce(list_transform(e, x -> x * x), {fold})) AS na,
             sqrt(list_reduce(list_transform(q, x -> x * x), {fold})) AS nq
      FROM (SELECT chunk_id, doc_id, text, embedding::DOUBLE[] AS e FROM idx {where}),
           (SELECT ?::DOUBLE[] AS q)
    ), top AS (
      SELECT chunk_id, doc_id, text,
             round(CASE WHEN na * nq = 0 THEN 0.0 ELSE dot / (na * nq) END, 4) AS score
      FROM s ORDER BY score DESC, chunk_id ASC LIMIT {K}
    )
    SELECT string_agg(printf('Source [%d] (%d): %s', rk, doc_id, text), chr(10) || chr(10)
                      ORDER BY rk),
           count(*)::INT
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, chunk_id ASC) AS rk FROM top)
    """
    return tuple(con.execute(sql, [list(map(float, qvec))]).fetchone())


def traced_extra(ctx, st, tracer):
    """Traced runs only: one curation composition plus its stage probes.
    Returns the composition as an extra op for the correctness check."""
    sf_dir = curate.prepare(ctx)
    try:
        with tracer.span("queries.curate_corpus_gated_audit"):
            audit = curate.composition(ctx, sf_dir)
        curate.stage_probe(ctx, sf_dir, tracer)
    except Exception:
        traceback.print_exc()
        audit = None  # counts as a failed op
    return [({"kind": "curate", "sf_dir": sf_dir}, audit)]


def read_latencies(st, lat):
    """Every request is a top-k read."""
    return lat


def layer_metrics(ctx, st, tracer, traced_ops):
    def med(name, field="duration"):
        spans = tracer.named(name)
        if not spans:
            return 0.0
        return statistics.median(
            s.duration if field == "duration" else s.attrs[field] for s in spans
        )

    def op_med(kind):
        spans = [s for s, op in traced_ops if op["kind"] == kind]
        return statistics.median(s.duration for s in spans) if spans else 0.0

    rag = [s for s, op in traced_ops if op["kind"] in ("dense", "hybrid")]
    topk = {s.op: s for s in tracer.named("operators.similarity.topk")}
    joinback = [s.duration - topk[s.op].duration for s in rag if s.op in topk]
    return {
        **curate.layer_metrics(tracer),
        "functions.embed.query_embed_s": med("functions.embed.query_embed"),
        "operators.similarity.topk_s": med("operators.similarity.topk"),
        "operators.similarity.rows_scored_per_result": med(
            "operators.similarity.topk", "input_records"
        ) / K,
        "operators.retrieval.joinback_assemble_s": (
            statistics.median(joinback) if joinback else 0.0
        ),
        "operators.retrieval.mmr_s": op_med("mmr"),
        "operators.retrieval.pinned_rdds_delta": statistics.fmean(
            s.attrs["pinned_rdds_delta"] for s, _ in traced_ops
        ) if traced_ops else 0.0,
    }


def docs_per_op(st, op) -> int:
    """Documents one request searches."""
    return st["n_docs"]
