"""Table loaders for the synthetic corpus: the RAG-path tables
(documents, embeddings, events) and the tabular star schema the E3 path
queries (``Frontend/app.py:180-220``). Each table's schema is the one its
parquet file stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → column pruning and predicate
    pushdown apply to whatever the caller selects/filters downstream.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet — Spark reads it as
    long (nanosAsLong); convert ns → µs with integer division (lossless for
    this data; ns values exceed double precision, so never divide as float).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        # events.ts is TIMESTAMP(NANOS); without this runtime-settable conf a
        # vanilla session (one not built by session.get_spark) throws
        # PARQUET_TYPE_ILLEGAL before the ns→µs conversion below can apply.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register the tables as temp views so ``spark.sql`` works over them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
