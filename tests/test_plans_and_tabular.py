"""Unit tests: read-only SQL gate, TTL cache, tabular helpers, text fns."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions import embed, text as tx
from building_a_rag_pipeline_with_airflow_spark.operators import tabular
from building_a_rag_pipeline_with_airflow_spark.plans import cache as cache_mod
from building_a_rag_pipeline_with_airflow_spark.plans.sqlgate import (
    ReadOnlyViolation,
    is_read_only,
    run_read_only,
)


def test_sqlgate_blocks_writes(spark):
    spark.range(3).createOrReplaceTempView("gate_t")
    assert is_read_only(spark, "SELECT * FROM gate_t")
    assert is_read_only(spark, "WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    for bad in [
        "DROP TABLE gate_t",
        "CREATE TABLE z AS SELECT * FROM gate_t",
        "INSERT INTO gate_t VALUES (9)",
        "TRUNCATE TABLE gate_t",
    ]:
        with pytest.raises((ReadOnlyViolation, Exception)):
            run_read_only(spark, bad)
    # the reference's startswith('select') gate passes this; ours must not
    assert not is_read_only(spark, "  select * from gate_t; drop table gate_t")


def test_sqlgate_rejects_garbage(spark):
    with pytest.raises(ValueError):
        run_read_only(spark, "not sql at all!!!")


def test_ttl_cache_roundtrip(spark):
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5)

    c = cache_mod.TTLCache(ttl=1000)
    key = cache_mod.canonical_key("t", limit=10)
    df1 = c.get_or_compute(key, compute)
    df2 = c.get_or_compute(key, compute)
    assert len(calls) == 1 and df1 is df2
    c.invalidate(key)
    c.get_or_compute(key, compute)
    assert len(calls) == 2
    c.clear()


def test_ttl_cache_expiry(spark):
    c = cache_mod.TTLCache(ttl=0.0)
    calls = []
    key = "k"
    c.get_or_compute(key, lambda: (calls.append(1), spark.range(1))[1])
    time.sleep(0.01)
    c.get_or_compute(key, lambda: (calls.append(1), spark.range(1))[1])
    assert len(calls) == 2


def test_canonical_key_normalizes_numpy_and_dates():
    import datetime as dt

    import numpy as np

    k1 = cache_mod.canonical_key("s", "t", f={"a": np.int64(5), "d": dt.date(2024, 1, 2)})
    k2 = cache_mod.canonical_key("s", "t", f={"a": 5, "d": "2024-01-02"})
    assert k1 == k2


def test_build_filter_shapes(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "x")],
        "id long, v double, c string",
    )
    out = tabular.fetch_filtered(
        df, filters={"v": (15.0, 35.0), "c": "x"}, order_by=["id"], limit=10
    ).collect()
    assert [r.id for r in out] == [3]


def test_build_filter_date_list_truncates_to_day(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9, 30)), (2, dt.datetime(2024, 1, 2, 23, 0)),
         (3, dt.datetime(2024, 1, 5, 0, 0))],
        "id long, ts timestamp",
    )
    # datetime bounds with times: reference strftime's to day precision, so
    # 23:00 on the end day is EXCLUDED (bound becomes midnight)
    out = tabular.fetch_filtered(
        df,
        filters={"ts": [dt.datetime(2024, 1, 1, 18, 45), dt.datetime(2024, 1, 2, 6, 0)]},
        order_by=["id"], limit=10,
    ).collect()
    assert [r.id for r in out] == [1]
    # plain date bounds work unchanged
    out2 = tabular.fetch_filtered(
        df, filters={"ts": [dt.date(2024, 1, 2), dt.date(2024, 1, 5)]},
        order_by=["id"], limit=10,
    ).collect()
    assert [r.id for r in out2] == [2, 3]


def test_build_filter_non_date_list_is_dropped(spark):
    # the reference only emits list filters for detected date columns;
    # a list of non-date values on a non-date column filters nothing
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    out = tabular.fetch_filtered(
        df, filters={"v": [15.0, 35.0]}, order_by=["id"], limit=10
    ).collect()
    assert [r.id for r in out] == [1, 2]
    # but the same bounds as a TUPLE are a numeric BETWEEN
    out2 = tabular.fetch_filtered(
        df, filters={"v": (15.0, 35.0)}, order_by=["id"], limit=10
    ).collect()
    assert [r.id for r in out2] == [2]


def test_build_filter_named_date_column_accepts_string_bounds(spark):
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 2, 1))],
        "id long, ddate date",
    )
    out = tabular.fetch_filtered(
        df, filters={"ddate": ["2024-01-15", "2024-02-15"]},
        order_by=["id"], limit=10,
    ).collect()
    assert [r.id for r in out] == [2]


def test_build_filter_falsy_scalar_is_dropped(spark):
    df = spark.createDataFrame([(1, "x"), (2, "")], "id long, c string")
    # "" and None mirror the reference's `elif value and value != ""` gate
    assert tabular.build_filter({"c": ""}) is None
    assert tabular.build_filter({"c": None}) is None
    out = tabular.fetch_filtered(
        df, filters={"c": ""}, order_by=["id"], limit=10
    ).collect()
    assert [r.id for r in out] == [1, 2]


def test_filterable_columns():
    import building_a_rag_pipeline_with_airflow_spark.operators.tabular as t

    class FakeField:
        def __init__(self, name):
            self.name = name

    class FakeSchema:
        fields = [FakeField(n) for n in ["ok", "cik", "x_sk", "y_dt", "z_id", "w_code", "keep"]]

    class FakeDF:
        schema = FakeSchema()

    assert t.filterable_columns(FakeDF()) == ["ok", "keep"]


def test_classify_quarter(spark):
    rows = [
        ("Q1 2024 10-Q", "https://x/doc.pdf"),
        ("Form 10-K", "https://x/q4/doc.pdf"),
        ("Q2 extra", "https://x/commentary/q2/doc.pdf"),  # blacklisted (F2)
        ("annual", "https://x/other.pdf"),
    ]
    df = spark.createDataFrame(rows, "t string, u string")
    got = [
        r.q for r in df.select(tabular.classify_quarter("t", "u").alias("q")).collect()
    ]
    assert got == ["Q1", "Q4", None, None]


def test_valid_report_date(spark):
    rows = [("2009-01-01",), ("2024-12-31",), ("2025-01-01",), ("2024-13-01",), ("24-01-01",)]
    df = spark.createDataFrame(rows, "d string")
    got = [r.v for r in df.select(tabular.valid_report_date("d").alias("v")).collect()]
    assert got == [True, True, False, False, False]


def test_embed_deterministic_and_normalized():
    v1 = embed.embed_text("spark join merge", 64)
    v2 = embed.embed_text("spark join merge", 64)
    assert v1 == v2
    norm = sum(x * x for x in v1) ** 0.5
    assert abs(norm - 1.0) < 1e-6
    assert embed.embed_text("", 64) == [0.0] * 64


def test_word_ngrams_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    got = df.select(tx.word_ngrams("text", 3).alias("g")).collect()
    assert got[0].g == ["one two"]          # shorter than n → whole text
    assert got[1].g == ["a b c", "b c d"]


def test_column_profile_one_pass(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, c string")
    rows = {r.column: r for r in tabular.column_profile(df).collect()}
    assert rows["c"].min_value == "a" and rows["c"].max_value == "b"
    assert rows["id"].n_distinct == 3


def test_build_filter_short_tuple_filters_nothing(spark):
    # a 1-tuple has no (lo, hi) bounds: skip it (the scalar-equality branch
    # would produce col == lit(tuple), an analysis error); 3+-tuples use
    # their first two elements like the reference's value[0]/value[1]
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    out = tabular.fetch_filtered(df, filters={"v": (15.0,)}, order_by=["id"])
    assert [r.id for r in out.collect()] == [1, 2, 3]
    out = tabular.fetch_filtered(
        df, filters={"v": (15.0, 25.0, 99.0)}, order_by=["id"]
    )
    assert [r.id for r in out.collect()] == [2]


def test_ensure_min_partitions_splits_single_file_input(spark, sf_dir):
    from building_a_rag_pipeline_with_airflow_spark.operators import ensure_min_partitions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert ensure_min_partitions(docs).rdd.getNumPartitions() >= 2


def test_scd2_history_change_semantics(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import tabular as T

    snaps = spark.createDataFrame(
        [
            # key 1: A -> A -> B    (one change at v3)
            (1, 1, "A"), (1, 2, "A"), (1, 3, "B"),
            # key 2: never changes  (one history row)
            (2, 1, "X"), (2, 2, "X"), (2, 3, "X"),
            # key 3: NULL -> NULL -> Y (null-safe compare: one change)
            (3, 1, None), (3, 2, None), (3, 3, "Y"),
        ],
        "k int, version int, attr string",
    )
    out = sorted(
        (
            (r.k, r.attr, r.valid_from, r.valid_to)
            for r in T.scd2_history(snaps, "k", ["attr"], "version").collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert out == [
        (1, "A", 1, 2),
        (1, "B", 3, None),
        (2, "X", 1, None),
        (3, None, 1, 2),
        (3, "Y", 3, None),
    ]
