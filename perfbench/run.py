#!/usr/bin/env python3
"""Benchmark runner for the RAG engine: closed-loop, single-client
workloads on a local Spark session (``local[<cores>]``).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

* ``serve``  - top-k context requests over a persisted index (traced runs
  also measure the curation layers once, see ``curate.py``);
* ``ingest`` - streamed document drops into dense and BM25 indexes, plus
  document upserts and a freshness read per drop.

The runner works only through the engine's public functions. With
``--trace 0`` it prints the end-to-end metrics: set-up time and the CPU time
one op costs the whole process tree. With ``--trace 1`` it measures
untraced, then with a span around every call into an engine layer, then
untraced again, and prints the per-layer metrics: the latencies the client
saw in the untraced phases, each layer's numbers and the tracing overhead.
Correctness checks run after the timed region; an op whose check fails
counts as failed. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

All scratch output lives in ``.perfbench_work/`` under the checkout and is
removed at exit; traced runs keep their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "ingest")

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "client.op_p50_s": "s",
    "client.op_p90_s": "s",
    "client.ops_per_s": "1/s",
    "client.docs_per_s": "docs/s",
    "client.read_p50_s": "s",
    "session.start_s": "s",
    "functions.embed.query_embed_s": "s",
    "operators.similarity.topk_s": "s",
    "operators.similarity.rows_scored_per_result": "count",
    "operators.retrieval.joinback_assemble_s": "s",
    "operators.retrieval.mmr_s": "s",
    "operators.retrieval.pinned_rdds_delta": "count",
    "operators.lexical.bm25_from_index_s": "s",
    "operators.lexical.postings_rows_read": "count",
    "operators.chunking.chunks_per_doc": "count",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.trigger_overhead_s": "s",
    "streaming.ingest.jobs_per_drop": "count",
    "streaming.ingest.ungrouped_jobs_per_drop": "count",
    "sources.index_layout.files_written_per_drop": "count",
    "sources.index_layout.index_files_total": "count",
    "sources.index_layout.bytes_written_per_input_byte": "B/B",
    "pipeline.upsert_s": "s",
    "pipeline.upsert_buckets_rewritten": "count",
    "pipeline.upsert_bytes_rewritten_per_changed_byte": "B/B",
    "pipeline.fresh_read_p50_s": "s",
    "queries.curate_corpus_gated_audit_s": "s",
    "queries.curate_corpus_gated_audit_jobs": "count",
    "operators.curation.gates_s": "s",
    "operators.curation.classifier_s": "s",
    "operators.curation.decontaminate_s": "s",
    "operators.sampling.mixture_s": "s",
    "operators.dedup.dedup_clusters_s": "s",
    "operators.dedup.cc_jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.pinned_rdds_end": "count",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}


class Ctx:
    """What every workload function receives."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.tracer = tracer


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host_env(work: str) -> None:
    """Fit the session to this host; program defaults stay otherwise."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, total_gb // 4))}g"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)


def start_session(work: str):
    from building_a_rag_pipeline_with_airflow_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited."""
    from pyspark import SparkContext

    from spans import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if gw.proc.stdin is not None:
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _running(p)]
        if not alive or time.monotonic() > deadline + 5:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def pct(values, p: int) -> float:
    """Percentile with linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Phase:
    """One measured phase: per-op latencies, top-k read latencies, wall
    time, CPU time of the whole process tree (this runner, the JVM and the
    Python workers), documents covered, the ops with their results (``None``
    when the op raised) and, when traced, each op's span."""

    def __init__(self):
        self.lat, self.reads, self.done, self.spans = [], [], [], []
        self.wall, self.cpu, self.docs = 0.0, 0.0, 0


def measure(ctx, wl, st, seconds: float) -> Phase:
    """Closed loop: run whole rounds of ops until ``seconds`` have passed."""
    from spans import pinned_rdds, tree_cpu_s

    ph = Phase()
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    for ops in wl.rounds(ctx, st):
        if ph.lat and time.perf_counter() - t0 >= seconds:
            break
        for op in ops:
            before = pinned_rdds(ctx.sc)
            sp, result = None, None
            ctx.tracer.current_op = len(ph.done)
            t = time.perf_counter()
            try:
                with ctx.tracer.span(f"{wl.__name__}.op") as sp:
                    result = wl.run_op(ctx, st, op)
                ph.docs += wl.docs_per_op(st, op)
            except Exception:
                log(traceback.format_exc())
            ph.lat.append(time.perf_counter() - t)
            ph.done.append((op, result))
            if sp is not None:
                sp.attrs["pinned_rdds_delta"] = pinned_rdds(ctx.sc) - before
                ph.spans.append((sp, op))
                wl.probe(ctx, st, op, ctx.tracer)
    ph.wall = time.perf_counter() - t0
    ph.cpu = tree_cpu_s(os.getpid()) - cpu0
    ph.reads = wl.read_latencies(st, ph.lat)
    return ph


def spark_layer(tracer, spans) -> dict:
    def mean(field):
        return statistics.fmean(s.attrs[field] for s, _ in spans) if spans else 0.0

    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.executor_cpu_s": mean("executor_cpu_s"),
        "spark.executor_run_s": mean("executor_run_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
    }


def run_workload(name: str, seed: int, seconds: float, traced: bool, work: str):
    from spans import OFF, Tracer, peak_rss_mb, pinned_rdds, tree_cpu_s

    wl = importlib.import_module(name)
    cpu0 = tree_cpu_s(os.getpid())
    t_setup = time.perf_counter()
    log(f"perfbench: {name} starting session")
    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    try:
        ctx = Ctx(spark, work, seed, OFF)
        st = wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        setup_cpu_s = tree_cpu_s(os.getpid()) - cpu0
        log(f"perfbench: session {session_s:.1f}s, set-up {setup_s:.1f}s "
            f"({setup_cpu_s:.1f} CPU s)")
        ph = measure(ctx, wl, st, seconds)
        rss = peak_rss_mb(os.getpid())
        log(f"perfbench: measured {len(ph.lat)} ops in {ph.wall:.1f}s ({ph.cpu:.1f} CPU s)")
        metrics = {"setup_s": setup_s, "cpu_s_per_op": ph.cpu / len(ph.lat)}
        units, done = END_TO_END, ph.done
        if traced:
            # the traced phase sits between two untraced ones, so warm-up
            # that continues across phases does not read as negative overhead
            tracer = Tracer(spark.sparkContext)
            ctx.tracer = tracer
            tph = measure(ctx, wl, st, seconds)
            ctx.tracer = OFF
            uph = measure(ctx, wl, st, seconds)
            ctx.tracer = tracer
            done = done + tph.done + uph.done + wl.traced_extra(ctx, st, tracer)
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(wl.layer_metrics(ctx, st, ctx.tracer, tph.spans))
            layer.update(spark_layer(ctx.tracer, tph.spans))
            layer["session.start_s"] = session_s
            layer["spark.pinned_rdds_end"] = pinned_rdds(spark.sparkContext)
            layer["spark.peak_rss_mb"] = rss
            # what the client saw, over both untraced phases
            lat, wall = ph.lat + uph.lat, ph.wall + uph.wall
            layer["client.op_p50_s"] = pct(lat, 50)
            layer["client.op_p90_s"] = pct(lat, 90)
            layer["client.ops_per_s"] = len(lat) / wall
            layer["client.docs_per_s"] = (ph.docs + uph.docs) / wall
            layer["client.read_p50_s"] = pct(ph.reads + uph.reads, 50)
            p50, tp50 = layer["client.op_p50_s"], pct(tph.lat, 50)
            layer["trace.overhead_s"] = tp50 - p50
            layer["trace.overhead_pct"] = 100.0 * (tp50 - p50) / p50
            ctx.tracer.write(f"{ROOT}/.perfbench_out/spans-{name}-seed{seed}.json")
            metrics, units = layer, PER_LAYER
        t = time.perf_counter()
        bad = wl.check(ctx, st, done)
        log(f"perfbench: checks {time.perf_counter() - t:.1f}s, {len(bad)} failed")
        failed = len({i for i, (_, r) in enumerate(done) if r is None} | set(bad))
        return {
            "correct": failed == 0,
            "attempted": len(done),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        t = time.perf_counter()
        stop_session(spark)
        log(f"perfbench: session stopped in {time.perf_counter() - t:.1f}s")


def smoke(work: str) -> int:
    """Each workload once on tiny inputs, traced, with its correctness
    check."""
    from spans import Tracer

    spark = start_session(work)
    ok = True
    try:
        for name in WORKLOADS:
            wl = importlib.import_module(name)
            ctx = Ctx(spark, f"{work}/{name}", 0, Tracer(spark.sparkContext))
            st = wl.setup(ctx, smoke=True)
            ph = measure(ctx, wl, st, 0)
            done = ph.done + wl.traced_extra(ctx, st, ctx.tracer)
            wl.layer_metrics(ctx, st, ctx.tracer, ph.spans)
            bad = wl.check(ctx, st, done)
            failed = sum(1 for _, r in done if r is None) + len(bad)
            log(f"smoke {name}: {len(done)} ops, {failed} failed")
            ok = ok and not failed
    finally:
        stop_session(spark)
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    try:
        importlib.import_module("building_a_rag_pipeline_with_airflow_spark")
    except ImportError as e:
        log(f"perfbench: the engine package is not importable from {ROOT}: {e}")
        return 2
    work = f"{ROOT}/.perfbench_work/run-{os.getpid()}"
    os.makedirs(work, exist_ok=True)
    host_env(work)
    try:
        if args.smoke:
            return smoke(work)
        result = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(f"{ROOT}/.perfbench_work")
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.exit(main())
