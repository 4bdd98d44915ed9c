"""Session set-up: ``session.local_frame`` (driver-side rows as an
Arrow-built LocalRelation) and the code generation cache."""

from conftest import count_compiles, count_jobs
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.session import local_frame

SCHEMA = "id bigint, n int, x double, s string, b boolean, v array<float>"


def test_local_frame_round_trips_rows(spark):
    rows = [
        (1, 7, 0.25, "a", True, [1.0, -0.5]),
        (None, None, None, None, None, None),
        (3, -2, 1e-9, "", False, []),
    ]
    df = local_frame(spark, rows, SCHEMA)
    assert df.dtypes == [
        ("id", "bigint"),
        ("n", "int"),
        ("x", "double"),
        ("s", "string"),
        ("b", "boolean"),
        ("v", "array<float>"),
    ]
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_empty_rows(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.collect() == []
    assert df.columns == ["id", "n", "x", "s", "b", "v"]


def test_local_frame_projection_collects_without_a_job(spark):
    df = local_frame(spark, [(1, 2, 0.5, "t", True, [1.0])], SCHEMA)
    proj = df.select((F.col("id") + F.col("n")).alias("y"), F.xxhash64("s"))
    assert count_jobs(spark, proj.collect) == 0


def test_local_frame_keeps_collected_timestamps(spark, monkeypatch):
    """Collected timestamps are naive host-local datetimes; the frame must
    hold the same instants on a host that is not on UTC."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        src = spark.sql("SELECT timestamp'2020-01-01 12:00:00' AS t, 1 AS i")
        rows = src.collect()
        df = local_frame(spark, rows, src.schema)
        assert df.collect() == rows
        assert df.select(F.col("t").cast("long")).first()[0] == 1577880000
    finally:
        monkeypatch.undo()
        time.tzset()


def test_codegen_cache_holds_more_than_100_query_shapes(spark):
    """A long-lived session re-running a cycle of more than 100 stage
    shapes (one ingest drop cycle is ~95 compiles) must find every one
    of them in the code generation cache the second time round."""

    def run_shapes():
        for i in range(150):
            spark.range(4).selectExpr(f"id * {i + 2} + {i} AS x").where(f"x > {i}").collect()

    assert count_compiles(spark, run_shapes) >= 150
    assert count_compiles(spark, run_shapes) == 0
