"""Accuracy bounds for the approximate analytics (sketches must land within
their documented error), and exactness for the windowed/percentile paths."""

import pytest
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark import schemas
from building_a_rag_pipeline_with_airflow_spark.operators import analytics


def test_approx_distinct_within_rsd(spark, sf_dir):
    orders = schemas.load_table(spark, sf_dir, "orders")
    est = analytics.distinct_count_estimate(
        orders, ["o_custkey", "o_orderpriority"], rsd=0.02
    ).first()
    exact_cust = orders.select("o_custkey").distinct().count()
    exact_prio = orders.select("o_orderpriority").distinct().count()
    # HLL++ rsd=0.02 → allow 5 sigma
    assert abs(est["o_custkey_approx_distinct"] - exact_cust) <= max(
        3, 0.10 * exact_cust
    )
    assert est["o_orderpriority_approx_distinct"] == exact_prio  # tiny card


def test_approx_percentile_close_to_exact(spark, sf_dir):
    li = schemas.load_table(spark, sf_dir, "lineitem")
    exact = analytics.percentile_profile(li, "l_quantity").first()
    approx = analytics.percentile_profile(
        li, "l_quantity", exact=False, accuracy=10_000
    ).first()
    for c in ("p_0_25", "p_0_5", "p_0_75", "p_0_9"):
        assert abs(exact[c] - approx[c]) <= 1.0, c


def test_hll_partials_merge_matches_global(spark, sf_dir):
    """The mergeability contract: daily sketches unioned == one global
    sketch over the raw rows (same lg_k), and both land near the exact
    count — re-aggregation without raw rescan."""
    ev = schemas.load_table(spark, sf_dir, "events")
    daily = analytics.hll_partials(
        ev.withColumn("d", F.to_date("ts")), ["d"], "user_id"
    )
    merged = analytics.hll_rollup(daily).first()["distinct_estimate"]
    direct = analytics.hll_rollup(
        analytics.hll_partials(ev.withColumn("g", F.lit(1)), ["g"], "user_id")
    ).first()["distinct_estimate"]
    exact = ev.select("user_id").distinct().count()
    assert merged == direct  # identical sketch state either way
    assert abs(merged - exact) <= max(3, 0.10 * exact)


def test_hll_rollup_grouped(spark, sf_dir):
    ev = schemas.load_table(spark, sf_dir, "events")
    parts = analytics.hll_partials(
        ev.withColumn("d", F.to_date("ts")), ["d", "event_type"], "user_id"
    )
    weekly = analytics.hll_rollup(parts, by=["event_type"])
    got = {r.event_type: r.distinct_estimate for r in weekly.collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for k in got:
        assert abs(got[k] - exact[k]) <= max(3, 0.10 * exact[k]), k


def test_rolling_agg_per_key(spark):
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01", 1.0),
            ("a", "2024-01-02", 2.0),
            ("a", "2024-01-05", 4.0),
            ("b", "2024-01-01", 10.0),
        ],
        "k string, d string, v double",
    ).withColumn("d", F.col("d").cast("date"))
    out = {
        (r.k, str(r.d)): r.rolling_sum
        for r in analytics.rolling_agg(
            df, "d", "v", window_periods=3, partition_by=["k"]
        ).collect()
    }
    assert out == {
        ("a", "2024-01-01"): 1.0,
        ("a", "2024-01-02"): 3.0,   # day1+day2 within 3-day trailing range
        ("a", "2024-01-05"): 4.0,   # day2 is 3 days back -> outside
        ("b", "2024-01-01"): 10.0,  # keys don't mix
    }


def test_gopher_flags_components_consistent(spark, sf_dir):
    from building_a_rag_pipeline_with_airflow_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.gopher_quality_flags(docs).collect()
    assert len(out) > 0
    for r in out:
        assert (r.keep == (r.ok_word_count and r.ok_mean_word_len
                           and r.ok_symbol_ratio and r.ok_stopwords
                           and r.ok_repetition))
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        if r.n_words > 0:
            assert r.mean_word_len > 0


def test_decontaminate_benchmark_self_hits(spark, sf_dir):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = curation.decontaminate(docs, bench)
    # every benchmark doc with >= min_collisions grams collides with itself
    bench_rows = (
        out.join(bench.select("doc_id"), "doc_id", "left_semi")
        .where(F.col("n_collisions") >= 2)
        .collect()
    )
    assert all(r.contaminated for r in bench_rows)
    # result covers every input doc exactly once
    assert out.count() == docs.count()


def test_repetition_stats_detects_repeats(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words here are unique")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in curation.repetition_stats(df).collect()}
    assert rows[1].dup_bigram_frac > 0.5
    assert rows[2].dup_bigram_frac == 0.0


def test_pack_sequences_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.operators import chunking, curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = chunking.chunk_fixed(docs)
    packed = curation.pack_sequences(chunks, budget=256, n_streams=8)
    # every chunk exactly once, doc never split across streams
    assert packed.count() == chunks.count()
    assert packed.select("doc_id", "stream").distinct().groupBy("doc_id").count() \
        .where(F.col("count") > 1).count() == 0
    # blocked-packing bound: every pack except possibly a stream's last is
    # within budget + max single chunk
    stats = packed.groupBy("stream", "pack_no").agg(
        F.sum("token_length").alias("tok")
    )
    max_chunk = chunks.agg(F.max("token_length")).first()[0]
    assert stats.where(F.col("tok") > 256 + max_chunk).count() == 0
    # packs are dense per stream: 0..max with no gaps
    dense = stats.groupBy("stream").agg(
        F.count("*").alias("n"), (F.max("pack_no") + 1).alias("m")
    )
    assert dense.where(F.col("n") != F.col("m")).count() == 0


def test_connected_components_label_propagation(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_chain_converges(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    # a 12-node path graph needs several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_curate_corpus_end_to_end(spark, sf_dir):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.operators import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    kept, audit = curation.curate_corpus(
        docs, benchmark=bench, mixture_weights={"src0": 2.0},
        near_dup_threshold=0.3,
    )
    rows = {r.stage: r for r in audit.collect()}
    assert list(rows) == [
        "quality_gates", "near_dup_dedup", "decontamination",
        "mixture_reweight",
    ]
    # monotone shrink, stages hand off exactly
    order = ["quality_gates", "near_dup_dedup", "decontamination", "mixture_reweight"]
    for a, b in zip(order, order[1:]):
        assert rows[b].rows_in == rows[a].rows_out
        assert rows[b].rows_out <= rows[b].rows_in
    assert kept.count() == rows["mixture_reweight"].rows_out
    # every stage actually dropped something on this synthetic corpus
    assert rows["quality_gates"].rows_out < rows["quality_gates"].rows_in
    assert rows["near_dup_dedup"].rows_out < rows["near_dup_dedup"].rows_in
    assert rows["decontamination"].rows_out < rows["decontamination"].rows_in


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    # a 12-edge path needs ~6 min-propagation rounds; max_iter=2 cannot
    # converge and must raise rather than silently splinter the component
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        dedup.connected_components(edges, max_iter=2)


def test_funnel_strict_order_and_within_bound(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    ev = spark.createDataFrame(
        [
            # u1: clean v->c->p
            (1, "view", "2024-01-01 00:00:00"),
            (1, "click", "2024-01-01 00:10:00"),
            (1, "purchase", "2024-01-01 00:20:00"),
            # u2: click BEFORE view — must not count
            (2, "click", "2024-01-01 00:00:00"),
            (2, "view", "2024-01-01 00:05:00"),
            # u3: converts but outside the 15-min bound
            (3, "view", "2024-01-01 00:00:00"),
            (3, "click", "2024-01-01 01:00:00"),
            # u4: never views — not in the funnel at all
            (4, "purchase", "2024-01-01 00:00:00"),
        ],
        "user_id long, event_type string, ts string",
    ).selectExpr("user_id", "event_type", "CAST(ts AS TIMESTAMP) AS ts")

    rows = {r.user_id: r for r in analytics.funnel(
        ev, ["view", "click"]).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].stage_2_ts is not None
    assert rows[2].stage_2_ts is None  # strict order: click precedes view
    assert rows[3].stage_2_ts is not None

    bounded = {r.user_id: r for r in analytics.funnel(
        ev, ["view", "click"], within_seconds=900).collect()}
    assert bounded[3].stage_2_ts is None  # outside the 15-minute bound
    assert bounded[1].stage_2_ts is not None

    import pytest as _pytest
    with _pytest.raises(ValueError):
        analytics.funnel(ev, ["view"])


def test_scrub_pii_patterns_and_order(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import curation

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk and ip 10.0.0.255 here"),
            (2, "ssn 123-45-6789 phone +1 (555) 123-4567 end"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curation.scrub_pii(df).collect()}
    assert "[email]" in out[1].text and "@" not in out[1].text
    assert "[ipv4]" in out[1].text and "10.0.0.255" not in out[1].text
    assert out[1].n_pii_email == 1 and out[1].n_pii_ipv4 == 1
    assert "[ssn]" in out[2].text and "123-45-6789" not in out[2].text
    assert "[phone]" in out[2].text
    assert out[2].n_pii_ssn == 1 and out[2].n_pii_phone >= 1
    assert out[3].text == "clean text with no pii at all"
    assert (out[3].n_pii_email, out[3].n_pii_ipv4,
            out[3].n_pii_phone, out[3].n_pii_ssn) == (0, 0, 0, 0)


def test_kll_merged_quantiles_within_rank_error(spark, sf_dir):
    """KLL sketch partials merged across groups must land within the
    sketch's rank-error bound of the exact quantiles (k=200 → ~1.65%
    rank error; asserted via value position, not value distance)."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    orders = schemas.load_table(spark, sf_dir, "orders")
    partials = analytics.kll_quantile_partials(
        orders, "o_totalprice", by=("o_orderpriority",)
    )
    row = analytics.kll_merge_quantiles(partials, [0.5, 0.9]).first()
    assert row.n == orders.count()
    n = row.n
    vals = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())
    for q, got in ((0.5, row.q50), (0.9, row.q90)):
        # rank of the sketch answer in the exact sorted data
        import bisect

        rank = bisect.bisect_left(vals, got) / n
        assert abs(rank - q) < 0.03, (q, got, rank)


def test_theta_overlap_estimates_near_exact(spark, sf_dir):
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    orders = schemas.load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_custkey") % 2 == 0)
    b = orders.where(F.col("o_custkey") % 3 == 0)
    r = analytics.theta_overlap(a, b, "o_custkey").first()
    ex_a = a.select("o_custkey").distinct().count()
    ex_b = b.select("o_custkey").distinct().count()
    ex_i = a.select("o_custkey").intersect(b.select("o_custkey")).count()
    ex_u = a.select("o_custkey").union(b.select("o_custkey")).distinct().count()
    for got, exact in ((r.n_a, ex_a), (r.n_b, ex_b), (r.n_intersection, ex_i), (r.n_union, ex_u)):
        assert abs(got - exact) <= max(3, 0.05 * exact), (got, exact)
    assert r.jaccard == pytest.approx(ex_i / ex_u, abs=0.05)


def test_attribution_first_vs_last_hand_computed(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    rows = [
        # user 1: view -> click -> purchase(10) ; first=view, last=click
        (1, 1, "2024-01-01 10:00:00", "view", 0.0),
        (2, 1, "2024-01-01 10:05:00", "click", 0.0),
        (3, 1, "2024-01-01 10:10:00", "purchase", 10.0),
        # user 2: purchase with no prior touch -> direct
        (4, 2, "2024-01-01 11:00:00", "purchase", 5.0),
        # user 2 second purchase after a view -> view (both models)
        (5, 2, "2024-01-01 12:00:00", "view", 0.0),
        (6, 2, "2024-01-01 13:00:00", "purchase", 7.0),
    ]
    import datetime as dt

    df = spark.createDataFrame(
        [
            (e, u, dt.datetime.fromisoformat(t), ty, v)
            for e, u, t, ty, v in rows
        ],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    last = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in analytics.attribute_conversions(
            df, model="last", tiebreak=("event_id",)
        ).collect()
    }
    assert last == {"click": (1, 10.0), "direct": (1, 5.0), "view": (1, 7.0)}
    first = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in analytics.attribute_conversions(
            df, model="first", tiebreak=("event_id",)
        ).collect()
    }
    # user 1 first touch = view; user 2's second purchase: first touch
    # across their whole history (events 4,5 precede) is the view at 12:00
    assert first == {"view": (2, 17.0), "direct": (1, 5.0)}


def test_attribution_rejects_bad_model(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    df = spark.createDataFrame([(1, 1, "purchase", 0.0)], "event_id long, user_id long, event_type string, value double")
    with pytest.raises(ValueError):
        analytics.attribute_conversions(df, ts_col="event_id", model="linear")


def test_hll_weekly_rollup_near_exact(spark, sf_dir):
    """The mergeable rollup (daily HLL partials unioned to weeks) must
    land within sketch error of the exact weekly distinct counts —
    pinning the registry query's estimates."""
    from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY
    from building_a_rag_pipeline_with_airflow_spark import schemas

    got = {
        r.week: r.approx_users
        for r in REGISTRY["hll_weekly_rollup_events"][0](spark, sf_dir).collect()
    }
    ev = schemas.load_table(spark, sf_dir, "events")
    exact = {
        r.week: r.n
        for r in ev.select(
            F.floor(
                F.floor(F.col("ts").cast("timestamp").cast("double") / 86400) / 7
            ).cast("bigint").alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for w, n in exact.items():
        assert abs(got[w] - n) <= max(3, 0.05 * n), (w, got[w], n)


def test_quantile_label_deterministic():
    """Column labels for merged-sketch quantiles come from a numeric
    per-mille format, not string munging: 0.5/0.05 keep their historical
    q50/q05 names, three-decimal quantiles get three digits, and
    out-of-range q raises instead of producing an invalid identifier
    (the old str(q) path yielded 'q1.0' for q=1.0)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.analytics import (
        _quantile_label,
    )

    assert _quantile_label(0.5) == "q50"
    assert _quantile_label(0.05) == "q05"
    assert _quantile_label(0.95) == "q95"
    assert _quantile_label(0.25) == "q25"
    assert _quantile_label(0.999) == "q999"
    assert _quantile_label(0.925) == "q925"
    assert _quantile_label(0.025) == "q025"
    for bad in (0.0, 1.0, -0.5, 1.5, 0.0004):
        with pytest.raises(ValueError):
            _quantile_label(bad)


def test_theta_overlap_empty_side_raises(spark, sf_dir):
    """Empty inputs raise loudly (drift-family contract) instead of a
    0/0 NaN jaccard from the zero union estimate."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    orders = schemas.load_table(spark, sf_dir, "orders")
    empty = orders.where(F.lit(False))
    with pytest.raises(ValueError, match="theta overlap"):
        analytics.theta_overlap(empty, orders, "o_custkey")
    with pytest.raises(ValueError, match="theta overlap"):
        analytics.theta_overlap(orders, empty, "o_custkey")


def test_attribution_sums_exact_cents(spark):
    """Attributed value is summed in integer cents (order-free), not as
    raw doubles rounded after the fact — half-cent inputs land exactly."""
    from building_a_rag_pipeline_with_airflow_spark.operators import analytics

    rows = [
        (1, 1, "view", 0.0),
        (2, 1, "purchase", 10.005),
        (3, 1, "purchase", 10.005),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    out = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in analytics.attribute_conversions(df, ts_col="event_id").collect()
    }
    # round(1000.5) cents = 1001 per purchase (HALF_UP both engines)
    assert out == {"view": (2, 20.02)}


def test_connected_components_broadcast_equals_shuffle(spark, sf_dir):
    """r16 gated CC on broadcast_nodes: every test graph and every
    sf0.001/0.01 oracle run is under the 2M-node threshold, so only the
    broadcast loop is ever exercised — this differential pins the
    shuffle loop (forced via broadcast_nodes=0) label-for-label equal on
    (a) a deep chain (many propagation rounds, the pointer-jump stress),
    (b) clique + star shapes (the near-dup graph shapes), and (c) the sf
    fixture's REAL near-dup candidate graph."""
    from building_a_rag_pipeline_with_airflow_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    shapes = spark.createDataFrame(
        [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
        + [(200, 200 + i) for i in range(1, 6)],
        "id_a long, id_b long",
    )
    for edges in (chain, shapes, chain.unionByName(shapes)):
        bc = {
            (r.node, r.component)
            for r in dedup.connected_components(edges, max_iter=50).collect()
        }
        sh = {
            (r.node, r.component)
            for r in dedup.connected_components(
                edges, max_iter=50, broadcast_nodes=0
            ).collect()
        }
        assert bc == sh and bc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3)
    bc = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs, "id_a", "id_b").collect()
    }
    sh = {
        (r.node, r.component)
        for r in dedup.connected_components(
            pairs, "id_a", "id_b", broadcast_nodes=0
        ).collect()
    }
    assert bc == sh and bc


def test_cc_broadcast_round_never_sortmergejoins(spark):
    """The broadcast CC round must broadcast the node-sized labels into
    the pinned src-partitioned edges — never sort-merge-shuffle the edge
    side. Asserts on dedup._cc_round, the EXACT helper the
    loop checkpoints (the graph._round_contrib convention), over the
    operator's own und/labels construction."""
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.operators import dedup
    from building_a_rag_pipeline_with_airflow_spark.operators import (
        checkpoint_nostats,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    und = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .repartition("src")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = checkpoint_nostats(
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    plan = (
        dedup._cc_round(und, labels, True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
