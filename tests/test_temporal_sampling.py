"""as-of / interval joins vs reference implementations (pandas merge_asof,
naive theta join) and determinism contracts for content-hash sampling."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark import schemas
from building_a_rag_pipeline_with_airflow_spark.operators import sampling, temporal


@pytest.fixture(scope="module")
def quotes_trades(spark):
    # classic as-of fixture: trades pick the prevailing quote
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 09:00:00", 10.0),
            ("A", "2024-01-01 09:00:05", 10.5),
            ("A", "2024-01-01 09:00:10", 11.0),
            ("B", "2024-01-01 09:00:03", 20.0),
        ],
        "sym string, qts string, px double",
    ).withColumn("qts", F.col("qts").cast("timestamp"))
    trades = spark.createDataFrame(
        [
            (1, "A", "2024-01-01 09:00:04", 100),
            (2, "A", "2024-01-01 09:00:05", 200),   # exact-ts tie → matches
            (3, "A", "2024-01-01 08:59:59", 300),   # before any quote → null
            (4, "B", "2024-01-01 09:10:00", 400),
            (5, "C", "2024-01-01 09:00:04", 500),   # unknown key → null
        ],
        "tid int, sym string, tts string, qty int",
    ).withColumn("tts", F.col("tts").cast("timestamp"))
    return quotes, trades


def test_asof_backward_matches_pandas(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r.tid: (r.px, str(r.qts) if r.qts else None)
        for r in temporal.as_of_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts"
        ).collect()
    }
    ref = pd.merge_asof(
        trades.toPandas().sort_values("tts"),
        quotes.toPandas().sort_values("qts"),
        left_on="tts", right_on="qts", by="sym", direction="backward",
    )
    expect = {
        int(r.tid): (None if pd.isna(r.px) else r.px,
                     None if pd.isna(r.qts) else str(r.qts))
        for r in ref.itertuples()
    }
    assert got == expect


def test_asof_forward_matches_pandas(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r.tid: None if r.px is None else r.px
        for r in temporal.as_of_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            direction="forward",
        ).collect()
    }
    ref = pd.merge_asof(
        trades.toPandas().sort_values("tts"),
        quotes.toPandas().sort_values("qts"),
        left_on="tts", right_on="qts", by="sym", direction="forward",
    )
    expect = {
        int(r.tid): None if pd.isna(r.px) else r.px for r in ref.itertuples()
    }
    assert got == expect


def test_asof_tolerance_nulls_distant_matches(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {
        r.tid: r.px
        for r in temporal.as_of_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            tolerance_seconds=30,
        ).collect()
    }
    # trade 4 is 9m57s after B's only quote → tolerance nulls it
    assert got[4] is None
    assert got[1] == 10.0 and got[2] == 10.5


def test_asof_rejects_bad_direction(quotes_trades):
    quotes, trades = quotes_trades
    with pytest.raises(ValueError, match="backward|forward"):
        temporal.as_of_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            direction="nearest",
        )


def test_interval_join_equals_theta_join(spark, sf_dir):
    ev = schemas.load_table(spark, sf_dir, "events")
    iv = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    pts = ev.select("event_id", "user_id", "ts")
    got = temporal.interval_join(
        pts, iv, point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        on=["user_id"], bucket_width_seconds=1800,
    )
    naive = pts.alias("p").join(
        iv.withColumnRenamed("user_id", "iv_user").alias("i"),
        (F.col("p.user_id") == F.col("iv_user"))
        & (F.col("i.start_ts") <= F.col("p.ts"))
        & (F.col("p.ts") < F.col("i.end_ts")),
    )
    a = sorted((r.event_id, r.anchor_id) for r in got.collect())
    b = sorted((r.event_id, r.anchor_id) for r in naive.collect())
    assert a == b and len(a) > 0


def test_interval_join_left_semi(spark, sf_dir):
    ev = schemas.load_table(spark, sf_dir, "events")
    iv = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    pts = ev.select("event_id", "user_id", "ts")
    semi = temporal.interval_join(
        pts, iv, point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        on=["user_id"], bucket_width_seconds=1800, how="left_semi",
    )
    inner = temporal.interval_join(
        pts, iv, point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        on=["user_id"], bucket_width_seconds=1800,
    )
    assert semi.columns == pts.columns
    assert {r.event_id for r in semi.collect()} == {
        r.event_id for r in inner.select("event_id").distinct().collect()
    }


def test_hash_sample_stable_under_relayout(spark, sf_dir):
    orders = schemas.load_table(spark, sf_dir, "orders")
    a = {r.o_orderkey for r in sampling.hash_sample(orders, "o_orderkey", 0.2).collect()}
    b = {
        r.o_orderkey
        for r in sampling.hash_sample(
            orders.repartition(17, "o_custkey"), "o_orderkey", 0.2
        ).collect()
    }
    assert a == b and 0 < len(a) < orders.count()
    # and roughly the right size (md5 is uniform; 20% ± 5 points)
    assert abs(len(a) / orders.count() - 0.2) < 0.05


def test_stratified_fractions_and_salt(spark, sf_dir):
    cust = schemas.load_table(spark, sf_dir, "customer")
    out = sampling.stratified_hash_sample(
        cust, "c_mktsegment", {"BUILDING": 1.0, "MACHINERY": 0.0}, key="c_custkey"
    )
    got = {r.c_mktsegment for r in out.select("c_mktsegment").distinct().collect()}
    assert got == {"BUILDING"}
    assert (
        out.count()
        == cust.where(F.col("c_mktsegment") == "BUILDING").count()
    )
    # a different salt draws a different (but still deterministic) sample
    s1 = {r.o for r in sampling.hash_sample(
        cust.select(F.col("c_custkey").alias("o")), "o", 0.3, salt="a").collect()}
    s2 = {r.o for r in sampling.hash_sample(
        cust.select(F.col("c_custkey").alias("o")), "o", 0.3, salt="b").collect()}
    assert s1 != s2


def test_hash_sample_rejects_bad_fraction(spark, sf_dir):
    orders = schemas.load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="fraction"):
        sampling.hash_sample(orders, "o_orderkey", 1.5)


def test_mixture_reweight_proportions_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"src0": 2.0, "src1": 2.0}
    s1, plan = sampling.mixture_reweight(docs, "source", weights, key="doc_id")
    # upweighted strata keep everything when all strata are equal-sized
    pl = {r.source: r for r in plan.collect()}
    assert pl["src0"].fraction == 1.0
    assert all(abs(r.fraction - 0.5) < 0.01 for s, r in pl.items() if s not in weights)
    # deterministic: re-running yields the identical sample
    s2, _ = sampling.mixture_reweight(docs, "source", weights, key="doc_id")
    a = sorted(r.doc_id for r in s1.select("doc_id").collect())
    b = sorted(r.doc_id for r in s2.select("doc_id").collect())
    assert a == b
    # sample is a subset of the input, keyed rows intact
    assert len(a) == s1.count() and s1.count() < docs.count()


def test_temperature_mixture_math_and_reduction(spark):
    """alpha=0.5 over a skewed 2-stratum corpus: target shares follow
    sqrt(n), the scarce stratum keeps everything (it IS the cap), the
    head downsamples to hit the temperature-scaled ratio; alpha=1
    reduces to exactly proportional (every fraction 1.0, nothing
    dropped); alpha outside (0,1] and NULL strata raise."""
    import math

    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    sampled, plan = sampling.temperature_mixture(
        df, "source", key="doc_id", alpha=0.5
    )
    pl = {r.source: r for r in plan.collect()}
    assert pl["small"].fraction == 1.0  # scarcest stratum defines the cap
    # big's planned fraction: cap = min(n/sqrt(n)) = sqrt(100); frac =
    # cap*sqrt(900)/900
    want = min(1.0, math.sqrt(100) * math.sqrt(900) / 900)
    assert abs(pl["big"].fraction - want) < 1e-12
    kept = {r.source: r.cnt for r in sampled.groupBy("source").agg(
        F.count("*").alias("cnt")).collect()}
    assert kept["small"] == 100
    # achieved mix ~ sqrt-proportional: 300:100 = 3:1 (hash granularity)
    assert abs(kept["big"] / kept["small"] - 3.0) < 0.2
    s1, plan1 = sampling.temperature_mixture(df, "source", key="doc_id", alpha=1.0)
    assert {r.fraction for r in plan1.collect()} == {1.0}
    assert s1.count() == df.count()
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mixture(df, "source", key="doc_id", alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mixture(df, "source", key="doc_id", alpha=1.5)
    null_df = spark.createDataFrame([(1, None), (2, "a")], "k long, source string")
    with pytest.raises(ValueError, match="NULL"):
        sampling.temperature_mixture(null_df, "source", key="k")


def test_mixture_reweight_rejects_null_strata(spark):
    import pytest as _pytest

    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "k long, s string"
    )
    with _pytest.raises(ValueError, match="NULL"):
        sampling.mixture_reweight(df, "s", {"a": 1.0}, key="k")


@pytest.mark.parametrize("bucket_seconds", [60, 3600, 10_000_000_000])
def test_asof_bucketed_equals_plain(spark, quotes_trades, bucket_seconds):
    """The hot-key bucketed variant must be result-identical to plain
    backward as-of at ANY bucket width — tiny buckets exercise the
    cross-bucket carry, a huge bucket degenerates to the plain window."""
    quotes, trades = quotes_trades
    plain = {
        r.tid: (r.px, str(r.qts) if r.qts else None)
        for r in temporal.as_of_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts"
        ).collect()
    }
    bucketed = {
        r.tid: (r.px, str(r.qts) if r.qts else None)
        for r in temporal.as_of_join_bucketed(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts",
            bucket_seconds=bucket_seconds,
        ).collect()
    }
    assert bucketed == plain


def test_asof_bucketed_tolerance_and_events(spark, sf_dir):
    """Cross-check on the real events/orders shape plus tolerance nulling,
    against the plain operator."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("bts"), F.col("value").alias("bval"),
        F.col("event_id").alias("bid"),
    ).dropDuplicates(["user_id", "bts"])
    kw = dict(on=["user_id"], left_ts="vts", right_ts="bts",
              right_cols=["bval"], tolerance_seconds=7200.0)
    plain = {
        r.vid: (r.bval, str(r.bts) if r.bts else None)
        for r in temporal.as_of_join(views, buys, **kw).collect()
    }
    bucketed = {
        r.vid: (r.bval, str(r.bts) if r.bts else None)
        for r in temporal.as_of_join_bucketed(
            views, buys, bucket_seconds=3600, **kw
        ).collect()
    }
    assert bucketed == plain and len(plain) > 0


def test_asof_bucketed_boundary_and_empty_bucket_cases(spark):
    """Adversarial seams of the bucketed variant: right rows exactly ON a
    bucket boundary, left rows in buckets with no right rows (carry must
    skip over them), equal left/right timestamps (exact match wins), and a
    key with no right rows at all (nulls)."""
    import pandas as pd

    left = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00"),   # exact-ts match on boundary
            ("a", "2024-01-01 00:59:59"),   # same bucket as the boundary row
            ("a", "2024-01-01 03:30:00"),   # two empty buckets later: carry
            ("b", "2024-01-01 02:00:00"),   # key with no right rows
        ],
        "k string, lts string",
    ).selectExpr("k", "CAST(lts AS TIMESTAMP) AS lts")
    right = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", 1.0),  # exactly on the hour bucket edge
            ("a", "2023-12-31 23:59:59", 0.5),  # previous bucket
        ],
        "k string, rts string, px double",
    ).selectExpr("k", "CAST(rts AS TIMESTAMP) AS rts", "px")

    plain = temporal.as_of_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts"
    )
    bucketed = temporal.as_of_join_bucketed(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        bucket_seconds=3600,
    )
    key = lambda rows: sorted(
        (r.k, str(r.lts), r.px, str(r.rts)) for r in rows
    )
    got, want = key(bucketed.collect()), key(plain.collect())
    assert got == want
    # and the semantics themselves (not just internal consistency):
    ref = pd.merge_asof(
        left.toPandas().sort_values("lts"),
        right.toPandas().sort_values("rts"),
        left_on="lts", right_on="rts", by="k", direction="backward",
    )
    expect = sorted(
        (r.k, str(r.lts), None if pd.isna(r.px) else r.px,
         "None" if pd.isna(r.rts) else str(r.rts))
        for r in ref.itertuples()
    )
    assert [(k_, l, p, str(t)) for k_, l, p, t in got] == expect


def test_assign_folds_stable_partition_and_exhaustive(spark, sf_dir):
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    f1 = sampling.assign_folds(orders, "o_orderkey", k=5)
    # exhaustive, folds 0..4, roughly balanced
    counts = {r.fold: r["count"] for r in f1.groupBy("fold").count().collect()}
    assert set(counts) == {0, 1, 2, 3, 4}
    total = orders.count()
    assert sum(counts.values()) == total
    for c in counts.values():
        assert c > total // 10
    # relayout-invariant: same assignment after a repartition
    f2 = sampling.assign_folds(orders.repartition(13), "o_orderkey", k=5)
    a = dict((r.o_orderkey, r.fold) for r in f1.select("o_orderkey", "fold").collect())
    b = dict((r.o_orderkey, r.fold) for r in f2.select("o_orderkey", "fold").collect())
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.assign_folds(orders, "o_orderkey", k=1)


def test_deterministic_shuffle_reproducible_and_seed_sensitive(spark, sf_dir):
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    s1 = [r.o_orderkey for r in sampling.deterministic_shuffle(
        orders, "o_orderkey", seed="epoch0").collect()]
    s2 = [r.o_orderkey for r in sampling.deterministic_shuffle(
        orders.repartition(17), "o_orderkey", seed="epoch0").collect()]
    assert s1 == s2, "order must survive relayout"
    s3 = [r.o_orderkey for r in sampling.deterministic_shuffle(
        orders, "o_orderkey", seed="epoch1").collect()]
    assert s1 != s3 and sorted(s1) == sorted(s3)
    # range-partitioned variant: same global order when read back in
    # partition order
    rp = sampling.deterministic_shuffle(
        orders, "o_orderkey", seed="epoch0", n_partitions=8)
    assert sorted(r.o_orderkey for r in rp.collect()) == sorted(s1)


def test_epoch_shard_plan_partition_positions_and_seed(spark, sf_dir):
    """The shard manifest is a PARTITION (every row exactly once),
    positions are exactly 1..|shard| per shard, the whole plan is
    relayout-invariant, and a new seed re-deals both shard membership
    and intra-shard order."""
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    n = orders.count()
    p1 = sampling.epoch_shard_plan(orders, "o_orderkey", 4, seed="epoch0")
    rows = p1.select("shard", "pos", "o_orderkey").collect()
    assert len(rows) == n and len({r.o_orderkey for r in rows}) == n
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= {0, 1, 2, 3}
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # relayout-invariant: identical (shard, pos) per key after repartition
    p2 = sampling.epoch_shard_plan(
        orders.repartition(17), "o_orderkey", 4, seed="epoch0"
    )
    a = {r.o_orderkey: (r.shard, r.pos) for r in rows}
    b = {r.o_orderkey: (r.shard, r.pos) for r in p2.collect()}
    assert a == b
    # seed re-deals: same keys, different assignment
    p3 = sampling.epoch_shard_plan(orders, "o_orderkey", 4, seed="epoch1")
    c = {r.o_orderkey: (r.shard, r.pos) for r in p3.collect()}
    assert set(c) == set(a) and c != a
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_shards"):
        sampling.epoch_shard_plan(orders, "o_orderkey", 0)
    # a NULL key must raise, not land in a NULL shard no rank reads
    # (review finding: the manifest must be a PARTITION of the corpus)
    null_df = spark.createDataFrame([(None,), (2,)], "id bigint")
    with _pytest.raises(Exception, match="NULL key"):
        sampling.epoch_shard_plan(null_df, "id", 4).collect()


def test_mixture_interleave_rates_rank_and_guards(spark):
    """Stride-scheduled interleave: any vtime-ordered prefix carries each
    domain at its weight ratio; the distributed grouped prefix-count rank
    equals the plain per-domain window; the whole plan is
    relayout-invariant; NULL domains and non-positive weights are
    rejected loudly."""
    from pyspark.sql import Window as W

    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(600)],
        "id bigint, dom string",
    )
    weights = {"a": 1.0, "b": 2.0, "c": 3.0}
    out = sampling.mixture_interleave(df, "dom", weights, "id", seed="e0")
    # column contract: input columns + the two documented outputs, no
    # leaked helpers (review finding: _bkt escaped the drop list)
    assert out.columns == df.columns + ["domain_rank", "vtime"]
    # exact weight-ratio prefix: 120 rows at rates 1:2:3 -> 20/40/60
    head = (
        out.orderBy("vtime", "dom", "id").limit(120)
        .groupBy("dom").count().collect()
    )
    assert sorted((r.dom, r["count"]) for r in head) == [
        ("a", 20), ("b", 40), ("c", 60)
    ]
    # grouped prefix-count rank == the plain (unscalable) window rank
    plain = df.withColumn(
        "_o", F.md5(F.concat(F.col("id").cast("string"), F.lit("e0")))
    ).withColumn(
        "r", F.row_number().over(W.partitionBy("dom").orderBy("_o", "id"))
    )
    a = {r.id: r.domain_rank for r in out.collect()}
    b = {r.id: r.r for r in plain.collect()}
    assert a == b
    # relayout-invariant
    out2 = sampling.mixture_interleave(
        df.repartition(17), "dom", weights, "id", seed="e0"
    )
    assert {r.id: (r.domain_rank, r.vtime) for r in out2.collect()} == {
        r.id: (r.domain_rank, r.vtime) for r in out.collect()
    }
    # guards: NULL stratum raises per row, zero weight raises at plan time
    import pytest as _pytest

    null_df = spark.createDataFrame(
        [(1, None), (2, "a")], "id bigint, dom string"
    )
    with _pytest.raises(Exception, match="NULL stratum"):
        sampling.mixture_interleave(null_df, "dom", {"a": 1.0}, "id").collect()
    # a NULL key would md5 to a NULL bucket and vanish at the offsets
    # join (review finding) — must raise instead of dropping the row
    null_key = spark.createDataFrame(
        [(None, "a"), (2, "a")], "id bigint, dom string"
    )
    with _pytest.raises(Exception, match="NULL key"):
        sampling.mixture_interleave(null_key, "dom", {"a": 1.0}, "id").collect()
    with _pytest.raises(ValueError, match="weights must be > 0"):
        sampling.mixture_interleave(df, "dom", {"a": 0.0}, "id")


def test_cluster_safe_split_cluster_atomicity(spark):
    """Every member of a component gets the SAME split (the whole point);
    docs absent from the components frame split by their own id, exactly
    like hash_sample's entity rule."""
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id bigint, text string"
    )
    # two multi-doc clusters + 194 singletons
    comps = spark.createDataFrame(
        [(1, 1), (50, 1), (99, 1), (2, 2), (150, 2), (199, 2)],
        "doc_id bigint, component bigint",
    )
    out = sampling.cluster_safe_split(docs, comps, eval_fraction=0.3)
    rows = {r.doc_id: (r.split_key, r.split) for r in out.collect()}
    assert len(rows) == 200  # exhaustive, no row duplication from the join
    assert len({rows[i] for i in (1, 50, 99)}) == 1   # cluster 1 atomic
    assert len({rows[i] for i in (2, 150, 199)}) == 1  # cluster 2 atomic
    assert rows[1][0] == "1" and rows[2][0] == "2"
    # singleton: split by own id — identical to the hash_bucket rule
    cut = int(round(0.3 * sampling.BUCKETS))
    b = spark.createDataFrame([(7,)], "k bigint").select(
        sampling.hash_bucket(F.col("k").cast("string"), "split").alias("b")
    ).first().b
    assert rows[7][1] == ("eval" if b < cut else "train")
    # both sides non-empty at this fraction and n
    splits = {v[1] for v in rows.values()}
    assert splits == {"train", "eval"}


def test_cluster_safe_split_fraction_guard(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import sampling

    docs = spark.createDataFrame([(1, "t")], "doc_id bigint, text string")
    comps = spark.createDataFrame([], "doc_id bigint, component bigint")
    with pytest.raises(ValueError, match="eval_fraction"):
        sampling.cluster_safe_split(docs, comps, eval_fraction=1.5)
