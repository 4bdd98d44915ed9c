import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs started while ``fn()`` runs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    fn()
    return scheduler.nextJobId() - before


def count_compiles(spark, fn) -> int:
    """Number of classes Janino compiles while ``fn()`` runs (code
    generation cache misses)."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = timer.getCount()
    fn()
    return timer.getCount() - before


@pytest.fixture(scope="session")
def spark():
    from building_a_rag_pipeline_with_airflow_spark import get_spark

    s = get_spark(
        app_name="building_a_rag_pipeline_with_airflow_spark-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
