"""Collaborative filtering: ALS matrix factorization over implicit
feedback, plus the exact item-item co-occurrence recommender that pins
it.

Two tiers again (the house pattern — exact engine-native baseline beside
the ML library path):

* :func:`cooccurrence_recommend` — item-item "customers also bought":
  the basket pair counts from ``operators.baskets`` re-ranked per seed
  item. Pure DataFrame ops, deterministic, SQL-oracle-able.
* :func:`als_recommend` — MLlib ALS with ``implicitPrefs`` over
  (user, item, strength) interactions; distributed block factorization.
  The factor model is a library internal (seeded but float-order
  sensitive — not externally oracle-able, same class as the
  KMeans/BRP/FP-Growth fits), so its correctness pin is behavioral:
  held-in positive pairs must out-score random negatives on average
  (tests/test_recommend.py).

Scale notes: ALS shuffles factor blocks per iteration (that's the
algorithm); interactions should be pre-aggregated per (user, item) —
done here — so the input is one row per pair, not per event. The
co-occurrence path inherits the basket-width bound discussed at
``baskets.frequent_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators import baskets


def interactions_of(
    df: DataFrame, user_col: str, item_col: str, strength_col: "str | None" = None
) -> DataFrame:
    """One row per (user, item) with interaction strength (count of
    events, or the sum of ``strength_col``) — the pre-aggregation every
    factorization wants so its input scales with distinct pairs, not raw
    events."""
    agg = (
        F.sum(F.col(strength_col).cast("double"))
        if strength_col
        else F.count("*").cast("double")
    )
    return (
        df.groupBy(
            F.col(user_col).alias("user"), F.col(item_col).alias("item")
        ).agg(agg.alias("strength"))
    )


def cooccurrence_recommend(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 5,
    min_count: int = 2,
    max_items: "int | None" = 10_000,
) -> DataFrame:
    """Item-item recommendations from basket co-occurrence: for each
    item, the top-k other items by shared-basket count (ties broken by
    item id for determinism). Symmetric pairs from the exact basket
    tier, cut per item by the salted two-phase
    ``similarity._per_query_topk`` (a mega-popular item co-occurs with a
    catalog-scale rec list, and one per-item window would sort it in a
    single task)."""
    from building_a_rag_pipeline_with_airflow_spark.operators.similarity import (
        _per_query_topk,
    )

    pairs = baskets.frequent_pairs(
        df, group_col, item_col, min_count=min_count, max_items=max_items
    )
    sym = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("rec"), "n"
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("rec"), "n"
        )
    )
    return _per_query_topk(sym, "item", "rec", int(k), score="n")


def als_recommend(
    interactions: DataFrame,
    k: int = 5,
    rank: int = 16,
    reg_param: float = 0.1,
    alpha: float = 10.0,
    max_iter: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Top-k item recommendations per user from MLlib ALS with implicit
    preferences (Hu/Koren/Volinsky): confidence = 1 + alpha·strength.
    Input is :func:`interactions_of` output (user, item, strength) with
    integer-castable ids. Returns (user, item, score, rank) exploded
    from ``recommendForAllUsers``."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        implicitPrefs=True,
        rank=int(rank),
        regParam=float(reg_param),
        alpha=float(alpha),
        maxIter=int(max_iter),
        seed=int(seed),
        coldStartStrategy="drop",
    )
    model = als.fit(
        interactions.select(
            F.col("user").cast("int"), F.col("item").cast("int"), "strength"
        )
    )
    recs = model.recommendForAllUsers(int(k))
    return recs.select(
        "user", F.posexplode("recommendations").alias("_i", "_r")
    ).select(
        "user",
        F.col("_r.item").alias("item"),
        F.col("_r.rating").alias("score"),
        (F.col("_i") + 1).alias("rank"),
    )
