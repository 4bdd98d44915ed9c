"""SparkSession factory tuned for this engine.

Local mode mirrors the test rig (local[32], single JVM); on a real cluster the
same confs apply unchanged — AQE for runtime re-planning/skew handling, Arrow
for the pandas-UDF hot paths, UTC session time so timestamp semantics match
the (naive-UTC) parquet test data and any SQL oracle.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

# Defaults chosen for 100 TB-scale behavior, not just local tests:
#  - AQE coalesces small shuffle partitions and splits skewed ones at runtime,
#    so a static shuffle.partitions misestimate is self-correcting.
#  - autoBroadcastJoinThreshold stays at default (10 MB); dimension tables
#    (region/nation/supplier/part at any SF) broadcast automatically.
#  - maxPartitionBytes 128 MB keeps scan tasks right-sized for wide clusters.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # test parquet carries TIMESTAMP(NANOS) which Spark has no native type
    # for; read as long and convert at the source (schemas.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.ui.enabled": "false",
    # Python workers fork from a daemon that skips the per-task re-read of
    # unchanged zip archives on sys.path (see _worker_daemon).
    "spark.python.daemon.module": "building_a_rag_pipeline_with_airflow_spark._worker_daemon",
    # Janino class cache (static conf). The default 100 entries is smaller
    # than one streaming ingest drop cycle (build, postings extension,
    # upsert, freshness reads: ~95 compiles per drop), so LRU evicted each
    # stage before the next drop reused it and every drop recompiled,
    # reloaded and re-JITted the same code. Measured with perfbench ingest
    # on a 4-core host: 300 entries already cut a drop to ~9 compiles, 1000
    # to 8-11 (the stages whose literals change per drop: _batch_id, BM25
    # n_docs/avgdl, upsert partition count). Driver metaspace after five
    # drops was 178 MB at 100 entries and 176 MB at 1000: a warm cache
    # loads fewer classes, not more.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # r16 negative result, kept for the record: preferSortMergeJoin=false
    # (guide §3.1 — allow shuffled-hash joins) looked like a ~20% win on
    # a whole-set A/B at sf0.1, but a per-row INTERLEAVED re-measure
    # (best-of-3 min over two passes per mode, 14 join-bearing rows)
    # read the deltas as ±0.1-0.3 s noise summing to ~zero — the
    # whole-set "win" was session-order drift on this host. Default kept.
    # spark.sql.shuffle.partitions stays a conf, not a constant tuned to
    # this box: default 32 locally (AQE coalescing makes the exact value
    # non-critical), overridable via SPARK_GRAFT_SHUFFLE_PARTITIONS for
    # cluster deployments where the right figure is sized to data volume.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def get_spark(
    app_name: str = "building_a_rag_pipeline_with_airflow_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real deployment the master
    comes from spark-submit and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
        # local mode = driver-only: the driver heap IS executor memory.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: "StructType | str") -> DataFrame:
    """Driver-side ``rows`` (tuples or ``Row`` objects in ``schema`` field
    order) as a DataFrame over a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` plans as a ``LogicalRDD``
    over a ``PythonRDD``, so every execution of the frame starts Python
    workers. The same rows handed over as one Arrow table plan as a
    ``LocalRelation``: the optimizer folds projections and filters over it
    at plan time, so collecting such a projection runs no job at all."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for values, field, atype in zip(cols, schema.fields, arrow_schema.types):
        if isinstance(field.dataType, TimestampType):
            # collected timestamps are naive host-local datetimes, and
            # Arrow stores any datetime's wall clock as the UTC value
            values = [v if v is None else v.astimezone(timezone.utc) for v in values]
        arrays.append(pa.array(values, type=atype))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
