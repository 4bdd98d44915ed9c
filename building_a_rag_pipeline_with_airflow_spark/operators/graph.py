"""Graph analytics on DataFrames: weighted PageRank, co-occurrence edge
construction, degree-oriented triangle counting.

The reference has no graph surface, but the dedup ladder already ends in
one graph algorithm (connected components, ``operators/dedup.py:425``) —
PageRank is the second standard one a corpus pipeline needs: rank
documents by link/citation structure, rank entities by co-occurrence,
weight crawl frontiers. Same execution shape as the CC loop:

* **state is one row per node** (the rank vector), edges are the big
  side. Each iteration joins ranks into edges on ``src``, aggregates
  contributions by ``dst``.
* **edges are normalized ONCE** (out-weight division) and persisted.
  While the node count fits a broadcast (the common case), each round
  BROADCASTS the rank vector into the cached edge partitions: zero
  exchange on the edge side, map-side partial aggregation collapses
  each partition to ≤|V| rows before the one small shuffle on ``dst``.
  Past the threshold, edges are pre-partitioned by ``src`` once and
  every round's join reuses that partitioning — the per-round cost is
  "shuffle the rank vector", never "reshuffle the graph".
* **lineage is truncated per round** with ``localCheckpoint`` — without
  it the plan doubles per iteration and the job dies of planning time
  long before it dies of data (the same trap documented at
  ``dedup.connected_components``).
* **dangling mass**: nodes with no out-edges leak rank. The standard fix
  (redistribute the dangling sum uniformly) costs one extra tiny
  aggregate per round; on symmetric graphs (co-occurrence — every edge
  exists both ways) there are no dangling nodes and the term is zero, so
  it is computed only when ``handle_dangling=True``.

Convergence: fixed ``iterations`` rather than an epsilon probe — rank
deltas shrink geometrically by the damping factor, so iteration count is
a function of tolerance, not data size; fixed counts also make the
result reproducible by any engine (the DuckDB oracle chains one CTE per
iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators import (
    advance,
    not_converged,
    pinned,
    release_checkpoint,
)


def _normalized_edges(e: DataFrame, out_w: DataFrame, use_bcast: bool) -> DataFrame:
    """The once-per-run edge normalization join ``pagerank`` executes —
    factored out so plan tests assert on the EXACT construction the
    operator runs (a hand-rederived copy in the test would keep passing
    if this branch regressed).

    r16: the broadcast branch partitions the normalized edges by ``dst``
    ONCE — the per-round contribution aggregate groups by ``dst``, and
    the rank join is a broadcast (preserves partitioning), so every
    round's ``groupBy(dst)`` and the ``nodes ⋈ contrib`` rank update
    (both sides hash-partitioned on the node key) then run with ZERO
    exchanges: one setup exchange of the edges buys 2 exchanges ×
    iterations. Measured at sf0.1 (907k-edge co-supply graph, pinned
    edges, solo warm best-of-3): 6.12 s → 2.56 s for the 6-round loop.
    The shuffle branch keeps partitioning by ``src`` — there the rank
    vector is shuffled to the edge partitions each round instead."""
    norm = e.join(F.broadcast(out_w) if use_bcast else out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("wt")).alias("p")
    )
    norm = norm.repartition("dst" if use_bcast else "src")
    return norm


def _round_contrib(norm: DataFrame, ranks: DataFrame, use_bcast: bool) -> DataFrame:
    """One PageRank round's contribution join+aggregate — the per-round
    plan ``pagerank`` executes; shared with the plan test (see
    :func:`_normalized_edges`)."""
    r = ranks.withColumnRenamed("node", "src")
    return (
        norm.join(F.broadcast(r) if use_bcast else r, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("pr") * F.col("p")).alias("inflow"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: "str | None" = None,
    iterations: int = 6,
    damping: float = 0.85,
    handle_dangling: bool = False,
    broadcast_nodes: int = 2_000_000,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns ``(node, pr)``.

    ``weight=None`` treats every edge as weight 1. Nodes are the union of
    ``src`` and ``dst`` values; a node with no out-edges contributes
    nothing (or its mass is redistributed uniformly when
    ``handle_dangling=True``). The node count N is a one-scalar driver
    aggregate — metadata, same class as ``mixture_reweight``'s plan
    counts, not a data-path collect.

    Update rule (the classic one): ``r'(v) = (1-d)/N + d * Σ_u r(u) *
    w(u,v)/W(u) [+ d * dangling_mass/N]``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # The edge list is read by the out-weights, the node set (twice) and
    # the normalization — persist it or an upstream construction pipeline
    # (e.g. cooccurrence_edges' explode-agg) re-executes 3-4×.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).persist()
    out_w = e.groupBy("src").agg(F.sum("w").alias("wt"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # one scalar; also materializes the node persist
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        raise ValueError("pagerank: empty edge list")
    # The rank vector is one row per NODE — tiny relative to edges. When
    # it fits a broadcast (the common case: |V| ≤ broadcast_nodes), ship
    # it to the cached edge partitions each round: ZERO exchange on the
    # edge side, map-side partial aggregation reduces each partition to
    # ≤|V| rows before the one small shuffle on dst. Only past the
    # threshold do we fall back to co-partitioned joins (edges
    # pre-partitioned by src once, reused every round).
    use_bcast = n <= int(broadcast_nodes)
    # out_w is node-sized, so the normalization join broadcasts under
    # the same condition instead of shuffling the edge side.
    norm = _normalized_edges(e, out_w, use_bcast).persist()
    dangling = (
        # node-sized; checkpointed so it survives the edge cache drop
        nodes.join(out_w.withColumnRenamed("src", "node"), "node", "left_anti")
        .localCheckpoint(eager=True)
        if handle_dangling
        else None
    )
    norm.count()  # materialize now so the raw edge cache can drop
    e.unpersist()
    d = float(damping)
    base = (1.0 - d) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    for i in range(int(iterations)):
        contrib = _round_contrib(norm, ranks, use_bcast)
        extra = 0.0
        if dangling is not None:
            # Tiny aggregate: sum of rank sitting on out-degree-0 nodes.
            row = (
                ranks.join(dangling, "node", "left_semi")
                .agg(F.sum("pr"))
                .first()
            )
            extra = d * float(row[0] or 0.0) / n
        # checkpoint the round (truncates per-round lineage) and release
        # the superseded one; the first round's ranks are not pinned
        ranks = advance(
            ranks if i else None,
            nodes.join(contrib, "node", "left").select(
                "node",
                (
                    F.lit(base + extra)
                    + F.lit(d) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            ),
        )
    norm.unpersist()
    nodes.unpersist()
    if dangling is not None:
        # Release the node-sized dangling checkpoint — the returned rank
        # frame no longer reads it, and leaving it pinned accumulates
        # across repeated calls (the 4× slowdown measured at
        # dedup.connected_components).
        release_checkpoint(dangling)
    return ranks


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_items: "int | None" = 10_000,
) -> DataFrame:
    """Symmetric co-occurrence edge list: ``(src, dst, w)`` where ``w`` is
    the number of DISTINCT groups in which the two items co-appear.

    ONE shuffle: ``collect_set`` per group (map-side partial — repeated
    items collapse before anything moves), then the pair fan-out is a
    map-side double explode over the per-group set, straight into the
    edge-count aggregate. The equivalent group-key self-join costs a
    second full shuffle of the fanned-out pairs plus a distinct — ~3×
    slower measured at sf0.1 (907k edges: 7.7 s join form vs 2.6 s this
    form).

    Fan-out per group is (set size)², so one celebrity group (a basket
    with 10⁵ distinct items) would quadratically explode a single task.
    ``max_items`` ENFORCES the bound: groups with more distinct items are
    dropped entirely — the same explicit-modeling-decision contract as
    ``linkage.blocked_fuzzy_pairs``'s ``max_block``; a degenerate group
    key should be refined upstream, not silently turned into a 10¹⁰-row
    task. Pass ``max_items=None`` to disable (bounded-membership inputs
    only). Audit the dropped set with :func:`oversized_groups`."""
    sets = (
        df.groupBy(group_col)
        .agg(F.collect_set(item_col).alias("_items"))
        .select("_items")
    )
    if max_items is not None:
        sets = sets.where(F.size("_items") <= int(max_items))
    return (
        sets.select(F.explode("_items").alias("src"), F.col("_items"))
        .select("src", F.explode("_items").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )


def oversized_groups(
    df: DataFrame, group_col: str, item_col: str, max_items: int
) -> DataFrame:
    """The groups a ``max_items`` guard would drop: ``(group, n_items)``
    for every group whose DISTINCT item count exceeds the cap. Run this
    to surface what :func:`cooccurrence_edges` / ``baskets.baskets_of``
    excluded — one countDistinct aggregate, no fan-out."""
    return (
        df.groupBy(F.col(group_col).alias("group"))
        .agg(F.countDistinct(item_col).alias("n_items"))
        .where(F.col("n_items") > int(max_items))
    )


def triangle_count(
    edges: DataFrame, a_col: str = "src", b_col: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected edge list (one row per
    unordered edge) — returns one row ``(n_edges, n_triangles)``.

    Degree-oriented ("compact-forward") formulation, the standard
    at-scale shape: every edge is oriented from its lower-(degree, id)
    endpoint to the higher one, wedges are enumerated only from each
    node's out-neighborhood, and a wedge closes iff the oriented edge
    between its endpoints exists. After orientation the maximum
    out-degree is O(√E) regardless of how skewed the raw degree
    distribution is, so wedge fan-out — the term that explodes on a
    naive 3-way join when a celebrity node appears — is bounded by
    Σ out-deg² ≤ E^1.5. Three shuffles total: degree agg, wedge join,
    closing join."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # e is read by the degree agg, orientation, wedge sides, closing join
    # and the edge count — 7 consumers; pin it once or an upstream
    # construction pipeline re-executes per consumer. The one-row result
    # is computed eagerly inside the block, so the edge blocks are
    # released on return instead of staying pinned for the session.
    with pinned(e) as e:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keyed = (
            e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("_da")), "a")
            .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("_db")), "b")
        )
        ka = F.struct(F.col("_da").alias("d"), F.col("a").alias("n"))
        kb = F.struct(F.col("_db").alias("d"), F.col("b").alias("n"))
        oriented = keyed.select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(ka < kb, kb).otherwise(ka).alias("kv"),
        )
        x = oriented.alias("x")
        y = oriented.alias("y")
        wedges = x.join(
            y, (F.col("x.u") == F.col("y.u")) & (F.col("x.kv") < F.col("y.kv"))
        ).select(F.col("x.v").alias("u"), F.col("y.v").alias("v"))
        closing = oriented.select("u", "v")
        tri = wedges.join(closing, ["u", "v"], "left_semi")
        n_tri = tri.agg(F.count("*").cast("bigint").alias("n_triangles"))
        n_edge = e.agg(F.count("*").cast("bigint").alias("n_edges"))
        return n_edge.crossJoin(n_tri).localCheckpoint(eager=True)


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "src",
    b_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree ≥ k — the standard dense-substructure filter
    (spam rings, tight co-citation clusters, robust community seeds)
    ahead of the rest of the graph family.

    Iterative peeling, the same execution discipline as
    :func:`pagerank` / ``dedup.connected_components``: each round one
    degree aggregate finds under-degree nodes, one (broadcastable)
    anti-join drops their edges, and ``operators.advance`` checkpoints
    the round (truncating lineage) and RELEASES the superseded round's
    blocks (plain unpersist is a no-op on checkpoints).
    The `isEmpty` convergence probe reads one partition. Rounds are
    bounded by the peeling depth (≤ longest chain of cascading
    removals); ``max_iter`` guards pathological chains with a raise, the
    ``connected_components`` non-convergence contract.

    Returns the surviving edge list (one row per direction per edge —
    re-derive nodes/degrees with one agg)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    und = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(int(max_iter)):
        deg = und.groupBy("src").agg(F.count("*").alias("_d"))
        weak = deg.where(F.col("_d") < int(k)).select("src")
        if weak.isEmpty():
            return und
        und = advance(
            und,
            und.join(weak, "src", "left_anti")
            .join(weak.withColumnRenamed("src", "dst"), "dst", "left_anti")
            .select("src", "dst"),
        )
        if und.isEmpty():
            return und
    raise not_converged(
        "k_core", max_iter,
        "raise max_iter for graphs with long removal cascades", und,
    )
