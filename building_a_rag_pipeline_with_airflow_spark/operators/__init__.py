"""Distributed operators: chunking, dedup, similarity, tabular, retrieval."""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than cores.

    Row-explosion operators (shingling, chunking, position n-grams) multiply
    each input row 40-1000×; when the source is one small parquet file the
    explosion otherwise runs single-threaded. The guard is a no-op on any
    healthily-partitioned input (a 100 TB table always has >> cores
    partitions), so the extra shuffle exists only in the degenerate case it
    fixes — and it shuffles the *pre-explosion* (small) rows.

    The partition-count probe (``df.rdd.getNumPartitions``) runs no job but
    does build the physical plan once per call, driver-side. Splitting the
    file scan itself (``spark.sql.files.minPartitionNum``) is NOT an
    alternative, because a single-row-group parquet file yields empty byte-
    range splits and the explosion still lands on one task."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Actually release a ``localCheckpoint(eager=True)`` frame's blocks.

    ``Dataset.unpersist()`` is a NO-OP for locally-checkpointed frames:
    it asks the cache manager to uncache the query plan, but a
    checkpoint's storage lives on the underlying RDD, which the cache
    manager never registered — verified against this Spark build
    (`getPersistentRDDs` keeps the entry after ``df.unpersist()``).
    Iterative operators (connected_components, pagerank, triangle_count)
    that checkpoint per round MUST use this instead, or every superseded
    round's blocks stay pinned for the session.

    The frame becomes UNRECOMPUTABLE afterwards (its lineage was
    truncated at checkpoint time) — call only on frames with no
    remaining readers. No-op for frames that are not direct
    localCheckpoint results. ``checkpoint_nostats`` wrappers are
    released through the checkpoint frame they carry."""
    # a checkpoint_nostats wrapper's own LogicalRDD wraps a PROJECTION
    # over the checkpointed RDD (never itself persisted) — release the
    # underlying checkpoint frame it carries instead.
    inner = getattr(df, "_graft_ckpt", None)
    if inner is not None:
        df = inner
    try:
        plan = df._jdf.queryExecution().analyzed()
        # a localCheckpoint result's analyzed plan is a LogicalRDD
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        # best-effort memory hygiene — never fail the job over it
        _log.warning("release_checkpoint: could not unpersist", exc_info=True)


def checkpoint_nostats(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that does NOT carry the source
    plan's statistics forward — the fix for exponential planner-stat
    blowup in iterative SELF-joining operators.

    ``Dataset.localCheckpoint`` preserves the checkpointed plan's
    ``Statistics`` on the resulting ``LogicalRDD`` (``originStats``), so
    an iterative operator whose round joins the running frame WITH
    ITSELF (connected_components' pointer-jumping step) squares
    ``sizeInBytes`` every round: the estimate's bit-length DOUBLES per
    iteration (measured: 20 → 9721 bits in 10 rounds). Planning cost
    then grows with the BigInt width until ~27 rounds in Catalyst dies
    with ``ArithmeticException: BigInteger would overflow supported
    range`` — observed on the r8 25× scale run, where long chance-edge
    chains pushed CC past 25 rounds (multi-minute planning stalls, then
    the overflow). Operators whose rounds grow stats GEOMETRICALLY
    (pagerank, k-core: one join per round) add constant bits per round
    and never approach the limit.

    Mechanics: checkpoint as usual, then rewrap the materialized
    internal RDD in a FRESH ``LogicalRDD`` with no origin stats (falls
    back to ``defaultSizeInBytes`` — constant per round). Pure JVM-side
    (``internalCreateDataFrame``): no Python round-trip, no recompute,
    no extra copy; downstream reads pay one no-op unsafe projection.
    The wrapper carries the real checkpoint frame as ``_graft_ckpt`` so
    ``release_checkpoint`` still frees the blocks. If the private
    rewrap API is unavailable (Spark Connect / future versions), the
    plain checkpoint frame is returned — correctness unchanged, only
    the stats cap is lost."""
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        njdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(njdf, spark)
        out._graft_ckpt = ck
        return out
    except Exception:
        _log.warning(
            "checkpoint_nostats: stats-free rewrap failed, returning the plain "
            "checkpoint", exc_info=True,
        )
        return ck


def advance(
    prev: "DataFrame | None", frame: DataFrame, nostats: bool = False
) -> DataFrame:
    """One step of an iterative or staged operator: materialize ``frame``
    (``checkpoint_nostats`` when ``nostats``, else an eager
    ``localCheckpoint``), then release ``prev``, the round or stage it
    replaces, and return the pinned frame. ``prev`` is None on the first
    step, where nothing is pinned yet."""
    cur = checkpoint_nostats(frame) if nostats else frame.localCheckpoint(eager=True)
    if prev is not None:
        release_checkpoint(prev)
    return cur


def not_converged(
    who: str, max_iter: int, hint: str, *frames: DataFrame
) -> RuntimeError:
    """Release the ``frames`` an iterative operator still pins and return
    its one non-convergence error, for the caller to raise: a labeling or
    peeling cut off mid-way would silently splinter its answer."""
    for f in frames:
        release_checkpoint(f)
    return RuntimeError(
        f"{who}: not converged after max_iter={max_iter} rounds; {hint}"
    )


@contextmanager
def pinned(df: DataFrame):
    """``df`` under an eager ``localCheckpoint`` for the ``with`` body,
    released on every exit, a raise included: the frame a body reads more
    than once (edges every round, a batch's rows every write)."""
    ck = df.localCheckpoint(eager=True)
    try:
        yield ck
    finally:
        release_checkpoint(ck)


def require_nonempty(df: DataFrame, what: str = "input") -> DataFrame:
    """Reference F10 emptiness guard (the pipeline skips/raises on empty
    intermediate sets). ``isEmpty`` probes one partition via limit(1) — never
    a full count — so the guard is O(first row) at any scale."""
    if df.isEmpty():
        raise ValueError(f"empty {what}: expected at least one row")
    return df


def keep_groups(rows: DataFrame, keys, keep) -> DataFrame:
    """The rows whose ``keys`` group passes ``keep``, a predicate on the
    group's row count ``_n``: the one group-size guard of the
    candidates-then-verify matchers (stop-shingle and stop-gram caps,
    band and block caps, repeat floors). One count aggregate, joined
    back as a left semi join, so the guard adds no column and never
    fans a row out."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    sizes = rows.groupBy(*keys).agg(F.count("*").alias("_n"))
    return rows.join(sizes.where(keep(F.col("_n"))).select(*keys), keys, "left_semi")


def bucket_pairs(rows: DataFrame, keys, id_col: str, carry=()) -> DataFrame:
    """Each pair of ``rows`` that shares a ``keys`` bucket, once: a self
    join on the keys, ``id_a < id_b``, and a dedup on ``(id_a, id_b)``
    for pairs that meet in several buckets. Each ``carry`` column rides
    along as ``<c>_a`` / ``<c>_b`` for the exact verify."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    a, b = (
        rows.select(
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *keys,
        )
        for s in "ab"
    )
    return (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
