"""IO-layer tests: S7 archive extraction feeding the TSV reader."""

import os
import zipfile

from building_a_rag_pipeline_with_airflow_spark.sources import io as eio


def _make_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, content in members.items():
            zf.writestr(name, content)


def test_extract_archives_feeds_read_tsv(spark, tmp_path):
    src = tmp_path / "downloads"
    dest = tmp_path / "extracted"
    src.mkdir()
    _make_zip(
        src / "2023q4.zip",
        {"num.txt": "adsh\tvalue\nA-1\t10\nA-2\t20\n"},
    )
    _make_zip(
        src / "2024q1.zip",
        {"num.txt": "adsh\tvalue\nB-1\t30\n"},
    )
    (src / "corrupt.zip").write_bytes(b"not a zip at all")
    (src / "notes.txt").write_text("ignored: not a zip")

    out = eio.extract_archives(str(src), str(dest))
    # corrupt archive skipped, non-zip ignored, stems become folder names
    assert [os.path.basename(p) for p in out] == ["2023q4", "2024q1"]
    assert all(os.path.isdir(p) for p in out)
    # source zips kept by default
    assert (src / "2023q4.zip").exists()

    df = eio.read_tsv(spark, f"{dest}/*/num.txt")
    rows = sorted((r.adsh, r.value) for r in df.collect())
    assert rows == [("A-1", 10), ("A-2", 20), ("B-1", 30)]


def test_extract_archives_remove_source(tmp_path):
    src = tmp_path / "dl"
    src.mkdir()
    _make_zip(src / "a.zip", {"f.txt": "x"})
    out = eio.extract_archives(str(src), str(tmp_path / "ex"), remove_source=True)
    assert len(out) == 1
    assert not (src / "a.zip").exists()


def test_write_binary_files_roundtrip(spark, tmp_path):
    out = tmp_path / "media_out"
    df = spark.createDataFrame(
        [("a.png", bytearray(b"\x89PNG fake")), ("b.md", bytearray(b"# doc")),
         ("skip.bin", None)],
        "file_name string, data binary",
    )
    eio.write_binary_files(df, str(out))
    assert (out / "a.png").read_bytes() == b"\x89PNG fake"
    assert (out / "b.md").read_bytes() == b"# doc"
    assert not (out / "skip.bin").exists()  # null payloads skipped


def test_write_binary_files_string_payload(spark, tmp_path):
    out = tmp_path / "md_out"
    df = spark.createDataFrame(
        [("page1.md", "# Page 1\n\nbody")], "file_name string, data string"
    )
    eio.write_binary_files(df, str(out))
    assert (out / "page1.md").read_text() == "# Page 1\n\nbody"


def test_require_nonempty(spark):
    import pytest as _pytest

    from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty

    df = spark.range(3)
    assert require_nonempty(df) is df
    with _pytest.raises(ValueError, match="empty docs"):
        require_nonempty(df.where("id < 0"), what="docs")


def test_compact_parquet_reduces_files_preserving_rows(spark, sf_dir, tmp_path):
    from building_a_rag_pipeline_with_airflow_spark.sources import io as eio

    src = str(tmp_path / "many")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(16).write.parquet(src)
    out = eio.compact_parquet(spark, src, target_file_mb=128)
    assert out is not None
    compacted = spark.read.parquet(out)
    assert compacted.count() == docs.count()
    import glob
    assert len(glob.glob(f"{out}/*.parquet")) < len(glob.glob(f"{src}/*.parquet"))
    # under the threshold: no-op
    assert eio.compact_parquet(spark, out, min_files_to_compact=8) is None


def test_compact_parquet_preserves_partition_layout(spark, sf_dir, tmp_path):
    import glob

    from building_a_rag_pipeline_with_airflow_spark.sources import io as eio

    src = str(tmp_path / "part")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(12).write.partitionBy("o_orderstatus").parquet(src)
    out = eio.compact_parquet(
        spark, src, target_file_mb=128, partition_by=["o_orderstatus"]
    )
    assert out is not None
    assert glob.glob(f"{out}/o_orderstatus=*"), "partition dirs lost"
    assert spark.read.parquet(out).count() == orders.count()


def test_compact_parquet_sees_multilevel_partitions(spark, sf_dir, tmp_path):
    """Two-key layouts (e.g. the IVF (cell_id, _batch_id) vectors dir) nest
    leaf files two levels deep — the recursive listing must find them."""
    import glob

    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.sources import io as eio

    src = str(tmp_path / "two_level")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "half", (F.col("o_orderkey") % 2).cast("int")
    )
    orders.repartition(8).write.partitionBy("o_orderstatus", "half").parquet(src)
    n_leaves = len(glob.glob(f"{src}/o_orderstatus=*/half=*/*.parquet"))
    assert n_leaves >= 4, "fixture should produce nested leaf files"
    out = eio.compact_parquet(
        spark, src, target_file_mb=128, min_files_to_compact=4,
        partition_by=["o_orderstatus", "half"],
    )
    assert out is not None, "recursive listing missed nested leaves"
    assert spark.read.parquet(out).count() == orders.count()


def test_expire_batches_drops_oldest_keeps_base(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.sources import io as eio

    path = str(tmp_path / "batched_sink")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    for bid in (-1, 0, 1, 2, 3):
        docs.withColumn("_batch_id", F.lit(bid)).write.mode("append").partitionBy(
            "_batch_id"
        ).parquet(path)
    dropped = eio.expire_batches(spark, path, keep_latest=2)
    assert dropped == [0, 1]
    left = {
        r._batch_id
        for r in spark.read.parquet(path).select("_batch_id").distinct().collect()
    }
    assert left == {-1, 2, 3}
    # nested layout (bucket=*/_batch_id=*) — the shingle index shape
    nested = str(tmp_path / "nested_sink")
    for bid in (-1, 7, 8):
        docs.withColumn("bucket", (F.col("doc_id") % 4).cast("int")).withColumn(
            "_batch_id", F.lit(bid)
        ).write.mode("append").partitionBy("bucket", "_batch_id").parquet(nested)
    dropped = eio.expire_batches(spark, nested, keep_latest=1)
    assert dropped == [7]
    left = {
        r._batch_id
        for r in spark.read.parquet(nested).select("_batch_id").distinct().collect()
    }
    assert left == {-1, 8}


def test_upsert_documents_rewrites_only_affected_buckets(spark, sf_dir, tmp_path):
    """Document upsert contract: result == full rebuild over the revised
    corpus; only the changed docs' bucket partitions are rewritten (file
    mtimes of untouched buckets unchanged); shrunken documents leave no
    stale chunk tails."""
    import glob
    import os

    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        read_index_bucketed,
        upsert_documents,
        write_index_bucketed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    path = str(tmp_path / "bucketed_index")
    write_index_bucketed(build_index(docs), path, n_doc_buckets=8)

    mtimes_before = {
        p: os.path.getmtime(p) for p in glob.glob(f"{path}/doc_bucket=*/*.parquet")
    }

    # revise two documents: one grows, one SHRINKS to few words
    changed = docs.where(F.col("doc_id").isin([3, 7])).withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.concat(F.col("text"), F.lit(" extra tail ") , F.col("text")))
        .otherwise(F.lit("tiny now")),
    )
    affected = upsert_documents(spark, path, changed, n_doc_buckets=8)
    assert affected, "no buckets rewritten"

    # equality with a full rebuild over the revised corpus
    revised = docs.where(~F.col("doc_id").isin([3, 7])).unionByName(changed)
    want = {
        (r.chunk_id, r.text)
        for r in build_index(revised).select("chunk_id", "text").collect()
    }
    got = {
        (r.chunk_id, r.text)
        for r in read_index_bucketed(spark, path).select("chunk_id", "text").collect()
    }
    assert got == want

    # untouched buckets' files were not rewritten
    untouched = [
        p for p in mtimes_before
        if not any(f"doc_bucket={b}/" in p for b in affected)
    ]
    assert untouched, "test needs at least one untouched bucket"
    for p in untouched:
        assert os.path.getmtime(p) == mtimes_before[p], f"rewrote {p}"


def test_upsert_documents_removes_chunks_of_emptied_documents(spark, sf_dir, tmp_path):
    """A document revised to blank text has no fresh chunks; its bucket is
    still rewritten, and a bucket left with no rows at all loses its
    directory. Upserting it together with a grown document leaves the
    index equal to a rebuild of the revised corpus."""
    import glob

    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        read_index_bucketed,
        upsert_documents,
        write_index_bucketed,
    )

    n_buckets = 64
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    path = str(tmp_path / "bucketed_index")
    write_index_bucketed(build_index(docs), path, n_doc_buckets=n_buckets)
    bucket_of = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets))
    sizes = docs.groupBy(bucket_of.alias("b")).agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n")
    )
    alone = sizes.where("n = 1").orderBy("doc_id").first()
    shared = sizes.where("n > 1").orderBy("doc_id").first()
    assert alone and shared, "test needs a bucket of one document and one of more"
    grown = docs.where(~F.col("doc_id").isin([alone.doc_id, shared.doc_id])).first().doc_id

    emptied = [alone.doc_id, shared.doc_id]
    changed = docs.where(F.col("doc_id").isin([grown] + emptied)).withColumn(
        "text",
        F.when(F.col("doc_id") == grown, F.concat(F.col("text"), F.lit(" more "), F.col("text")))
        .otherwise(F.lit("")),
    )
    affected = upsert_documents(spark, path, changed, n_doc_buckets=n_buckets)
    assert {alone.b, shared.b} <= set(affected)

    revised = docs.where(~F.col("doc_id").isin([grown] + emptied)).unionByName(changed)
    cols = ("chunk_id", "doc_id", "text")
    want = sorted(tuple(r) for r in build_index(revised).select(*cols).collect())
    got = sorted(tuple(r) for r in read_index_bucketed(spark, path).select(*cols).collect())
    assert got == want
    assert not glob.glob(f"{path}/doc_bucket={alone.b}")


def test_upsert_documents_keeps_keep_cols_of_the_index(spark, sf_dir, tmp_path):
    """An index built with ``keep_cols`` (the hybrid-prefilter layout)
    stores doc columns a plain build lacks. Upserting revised documents
    into it must carry those columns, leaving the index equal to a
    ``keep_cols`` rebuild of the revised corpus."""
    from pyspark.sql import functions as F

    from building_a_rag_pipeline_with_airflow_spark.pipeline import (
        build_index,
        read_index_bucketed,
        upsert_documents,
        write_index_bucketed,
    )

    keep = ("source", "lang")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    path = str(tmp_path / "bucketed_keep_index")
    write_index_bucketed(build_index(docs, keep_cols=keep), path, n_doc_buckets=8)

    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    changed = docs.where(F.col("doc_id").isin(ids)).withColumns(
        {
            "text": F.concat(F.col("text"), F.lit(" revised "), F.col("text")),
            "source": F.concat(F.col("source"), F.lit("_v2")),
        }
    )
    upsert_documents(spark, path, changed, n_doc_buckets=8)

    revised = docs.where(~F.col("doc_id").isin(ids)).unionByName(changed)
    cols = ("chunk_id", "doc_id", "text", *keep)
    want = sorted(
        tuple(r) for r in build_index(revised, keep_cols=keep).select(*cols).collect()
    )
    got = read_index_bucketed(spark, path)
    assert sorted(got.columns) == sorted(build_index(docs, keep_cols=keep).columns)
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == want


def test_layout_report_audits_files_and_spans(spark, sf_dir, tmp_path):
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.sources import io as sio

    li = schemas.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    path = str(tmp_path / "audit_me")
    li.repartition(4).write.parquet(path)
    rep = sio.layout_report(spark, path, stat_cols=("l_orderkey",)).collect()
    assert len(rep) == 4  # one row per data file
    assert sum(r.n_rows for r in rep) == li.count()
    assert all(r.n_bytes > 0 and r.n_row_groups >= 1 for r in rep)
    # min/max footer spans populated and ordered
    for r in rep:
        assert r.l_orderkey_min is not None
        assert int(r.l_orderkey_min) <= int(r.l_orderkey_max)
