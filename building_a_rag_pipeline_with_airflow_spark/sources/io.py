"""IO layer: the reference's ad-hoc file handling re-expressed as Spark
sources/sinks.

Scans (§2.1): S7 unzipped extracts → tab-delimited csv reader; S10 table
scan with filter/limit/offset → parquet + Catalyst. Sinks (§2.2): K1
per-file S3 loop → one partitioned distributed write with replace-on-write
idempotence.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_tsv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Tab-delimited SEC extracts (reference S7 unzipped .txt files,
    testing_airflow_sec_pipeline.py:195-216)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", header)
        .option("inferSchema", True)
        .csv(path)
    )


def extract_archives(src_dir: str, dest_dir: str,
                     remove_source: bool = False) -> list[str]:
    """Driver-side ZIP extraction (reference S7,
    testing_airflow_sec_pipeline.py:171-185): every ``*.zip`` in ``src_dir``
    extracts into ``dest_dir/<archive-stem>/``; corrupt archives are skipped
    (reference prints and continues). Returns the extracted folder paths —
    feed them to :func:`read_tsv` for the tab-delimited SEC extracts.

    ``remove_source=True`` mirrors the reference's delete-after-extract;
    default keeps inputs. Driver-side by design: archive listings are tiny
    control-plane work — the extracted files are what Spark reads in
    parallel."""
    import os
    import zipfile

    extracted: list[str] = []
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(".zip"):
            continue
        zip_path = os.path.join(src_dir, name)
        out_dir = os.path.join(dest_dir, name[: -len(".zip")])
        os.makedirs(out_dir, exist_ok=True)
        try:
            with zipfile.ZipFile(zip_path, "r") as zf:
                zf.extractall(out_dir)
        except zipfile.BadZipFile:
            continue
        extracted.append(out_dir)
        if remove_source:
            os.remove(zip_path)
    return extracted


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 64,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table (K1 scale layout): two tables bucketed on
    the same key with the same bucket count join WITHOUT a shuffle exchange
    (the bucketing IS the hash partitioning — verified in
    tests/test_scale_plans.py), and sorted buckets skip the sort of a
    sort-merge join. The 100 TB story for repeated joins/aggregations on a
    stable key: pay the shuffle once at write time, never at read time."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_binary_files(df: DataFrame, out_dir: str,
                       name_col: str = "file_name",
                       data_col: str = "data") -> None:
    """K5 sink: one file per row, payload bytes written verbatim — the
    reference's per-image/per-markdown write loops (MistralTest.py:76-82,
    :88-91) distributed across tasks via ``foreachPartition`` (genuinely
    imperative per-row IO; nothing returns to the driver). String payloads
    encode utf-8. ``out_dir`` must be shared/visible to executors at scale;
    file-name uniqueness is the caller's contract."""
    import os

    def _write_partition(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            payload = r[data_col]
            if payload is None:
                continue
            if isinstance(payload, str):
                payload = payload.encode("utf-8")
            with open(os.path.join(out_dir, r[name_col]), "wb") as fh:
                fh.write(bytes(payload))

    df.select(name_col, data_col).foreachPartition(_write_partition)


def list_parquet_leaf_files(spark, path: str) -> "list[tuple[str, int]]":
    """Recursive (path, bytes) listing of a parquet directory's LEAF
    files — file-status only, no data scan. Recursion matters: a
    multi-key layout (e.g. the IVF store's (cell_id, _batch_id) vectors
    dir) nests leaves two+ levels deep, where a fixed one-level walk
    finds zero files and silently skips whatever sizing decision the
    caller is making. One copy, shared by :func:`compact_parquet` and
    ``streaming.ingest.compact_gate_state`` so a listing fix cannot be
    applied to one and missed in the other."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    files = []
    it = fs.listFiles(jvm_path, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            files.append((f.getPath().toString(), f.getLen()))
    return files


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    min_files_to_compact: int = 8,
    partition_by: Sequence[str] = (),
) -> str | None:
    """Compact a small-file parquet directory (streaming-sink hygiene for
    :mod:`..streaming.ingest`'s per-batch appends).

    Sizing comes from the directory's actual bytes (file-status listing,
    no data scan): ``ceil(total_bytes / target_file_mb)`` output files via
    ``coalesce`` — a narrow, shuffle-free rewrite. The compacted copy
    lands beside the original as ``<path>__compact_<n>`` and the path is
    returned for an atomic catalog/manifest swap; this function never
    deletes the source (object stores want swap-then-expire, not
    in-place rewrites — in-place would corrupt concurrent readers).
    Returns None when the directory is already within budget.

    Reading a hive-partitioned layout hoists the partition columns into
    the data; pass ``partition_by`` to re-write them as partitions (and
    keep downstream pruning) — otherwise the compacted copy is FLAT."""
    import math

    files = list_parquet_leaf_files(spark, path)
    if len(files) < min_files_to_compact:
        return None
    total = sum(sz for _, sz in files)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    out = f"{path}__compact_{len(files)}to{n_out}"
    df = spark.read.parquet(path)
    if partition_by:
        # repartition on the partition keys so each output partition dir
        # gets coherent files (coalesce alone would interleave them)
        df.repartition(n_out, *partition_by).write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(out)
    else:
        df.coalesce(n_out).write.mode("overwrite").parquet(out)
    return out


def expire_batches(
    spark,
    path: str,
    keep_latest: int,
    batch_col: str = "_batch_id",
    keep_base: bool = True,
) -> "list[int]":
    """Retention for ``_batch_id``-partitioned streaming sinks (the index
    layouts `streaming_build_index` / `streaming_extend_*` accumulate):
    drop all but the ``keep_latest`` newest batch partitions, returning
    the dropped batch ids.

    Works on partition METADATA only — batch ids come from directory
    names (one listing, no data scan) and removal deletes whole partition
    directories, so cost is O(#batches) regardless of data size.
    ``keep_base=True`` always preserves the batch ``-1`` base-build
    partition. Complements :func:`compact_parquet` (which merges small
    files but keeps every row): this is the DELETION side of streaming
    sink hygiene — only correct for sinks where old batches really are
    expendable (e.g. a sliding-horizon feature store), never for the
    append-forever document index."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    # batch partitions may nest under other partition levels (e.g. the
    # shingle index's bucket=*/ layout) — walk dirs, collect batch dirs
    batch_dirs: dict[int, list] = {}

    def walk(p):
        for st in fs.listStatus(p):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name.startswith(f"{batch_col}="):
                bid = int(name.split("=", 1)[1])
                batch_dirs.setdefault(bid, []).append(st.getPath())
            else:
                walk(st.getPath())

    walk(jvm_path)
    ids = sorted(batch_dirs)
    candidates = [b for b in ids if not (keep_base and b == -1)]
    drop = candidates[:-keep_latest] if keep_latest > 0 else candidates
    for bid in drop:
        for d in batch_dirs[bid]:
            fs.delete(d, True)
    return drop


def z_value(col_a, col_b, bits: int = 21) -> "F.Column":
    """Morton (Z-order) interleave of two non-negative integer columns —
    the multi-dimensional sort key behind lakehouse Z-ordering. ``bits``
    per dimension (21+21 ≤ a 63-bit long); values are clamped into
    range, so callers whose domains exceed 2^bits should rank/bucket
    first (min-max or percentile normalization). Pure Catalyst bitwise
    expressions — codegen'd, no UDF."""
    a = F.least(F.greatest(F.col(col_a).cast("long"), F.lit(0)), F.lit((1 << bits) - 1))
    b = F.least(F.greatest(F.col(col_b).cast("long"), F.lit(0)), F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(int(bits)):
        z = z.bitwiseOR(
            F.shiftleft(a.bitwiseAND(F.lit(1 << i)), i)
        ).bitwiseOR(F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i + 1))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-ordered parquet layout: range-partition + sort by the Morton
    value of (col_a, col_b), so every file covers a small RECTANGLE of
    the two-dimensional key space and parquet min/max statistics prune
    files/row-groups for predicates on EITHER column — a single-column
    sort only prunes its own column.

    Both dimensions are min-max normalized to the full ``bits`` range
    first (one-row aggregate broadcast back in-plan). Without this the
    wider-domain column monopolizes the interleave's high bits and the
    narrow column ends up unordered across files — the classic Z-order
    mistake. Write-time work (like ``write_bucketed``): one extra
    aggregate + one range exchange + per-partition sort, run once per
    layout generation, amortized over every read."""
    a, b = F.col(col_a).cast("double"), F.col(col_b).cast("double")
    hi = float((1 << int(bits)) - 1)
    bounds = df.agg(
        F.min(a).alias("_alo"), F.max(a).alias("_ahi"),
        F.min(b).alias("_blo"), F.max(b).alias("_bhi"),
    )
    # Guard ONLY the zero-span (constant column) case. Clamping the span
    # up to 1.0 would quietly under-scale any column whose value range is
    # < 1 (rates, scores, normalized doubles), compressing that dimension
    # into a sliver of the 2^bits grid and losing the interleave
    # resolution the layout exists for.
    span_a = F.col("_ahi") - F.col("_alo")
    span_b = F.col("_bhi") - F.col("_blo")
    scaled = df.crossJoin(F.broadcast(bounds)).select(
        "*",
        F.round(
            (a - F.col("_alo"))
            / F.when(span_a > 0, span_a).otherwise(F.lit(1.0))
            * hi
        ).cast("long").alias("_na"),
        F.round(
            (b - F.col("_blo"))
            / F.when(span_b > 0, span_b).otherwise(F.lit(1.0))
            * hi
        ).cast("long").alias("_nb"),
    )
    (
        scaled.withColumn("_z", z_value("_na", "_nb", bits))
        .repartitionByRange(int(n_files), "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_na", "_nb", "_alo", "_ahi", "_blo", "_bhi")
        .write.mode("overwrite")
        .parquet(path)
    )


def layout_report(
    spark, path: str, stat_cols: "tuple[str, ...]" = ()
) -> "DataFrame":
    """Distributed parquet-layout audit: one row per data file with row
    count, byte size, row-group count, and (optionally) each
    ``stat_cols`` column's min/max footer span — the health check run
    before/after :func:`compact_parquet` / :func:`write_zordered`
    (small-file pressure, clustering quality, pruning potential).

    The file LIST comes from the source relation (driver-side metadata,
    same class as any scan planning); the FOOTERS are read distributed —
    each task opens its own files with pyarrow, so the driver never
    touches a footer and 10⁶ files audit at cluster width. Output is
    file-count-sized (metadata), orderable/aggregatable like any frame."""
    import pandas as pd  # noqa: F811  (worker-side import pattern)
    from pyspark.sql import types as T

    files = [f for f in spark.read.parquet(path).inputFiles()]
    n_part = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(n_part)
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_row_groups", T.IntegerType()),
    ]
    for c in stat_cols:
        fields += [
            T.StructField(f"{c}_min", T.StringType()),
            T.StructField(f"{c}_max", T.StringType()),
        ]
    schema = T.StructType(fields)

    def op(batches):
        import os

        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fp in pdf["file"]:
                local = fp[len("file:"):] if fp.startswith("file:") else fp
                md = pq.ParquetFile(local).metadata
                rec = {
                    "file": fp,
                    "n_rows": md.num_rows,
                    "n_bytes": os.path.getsize(local),
                    "n_row_groups": md.num_row_groups,
                }
                for c in stat_cols:
                    lo, hi = None, None
                    for rg in range(md.num_row_groups):
                        for ci in range(md.num_columns):
                            col = md.row_group(rg).column(ci)
                            if col.path_in_schema == c and col.statistics:
                                s = col.statistics
                                lo = s.min if lo is None else min(lo, s.min)
                                hi = s.max if hi is None else max(hi, s.max)
                    rec[f"{c}_min"] = None if lo is None else str(lo)
                    rec[f"{c}_max"] = None if hi is None else str(hi)
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in fields])

    return fdf.mapInPandas(op, schema=schema)
