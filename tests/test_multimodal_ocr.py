"""Tests: multimodal binary-column operators + hermetic OCR path +
acquisition manifest pipeline."""

import pytest
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm
from building_a_rag_pipeline_with_airflow_spark.operators import ocr
from building_a_rag_pipeline_with_airflow_spark.sources import acquisition as acq


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthesize_media(spark, n=16)


def test_extract_image_meta_deterministic(spark, media):
    out1 = {r.media_id: (r.meta.width, r.meta.height)
            for r in mm.extract_image_meta(media).collect()}
    out2 = {r.media_id: (r.meta.width, r.meta.height)
            for r in mm.extract_image_meta(media).collect()}
    assert out1 == out2
    assert all(64 <= w < 256 and 64 <= h < 256 for (w, h) in out1.values())
    # schema unchanged (meta filled in place)
    assert mm.extract_image_meta(media).schema == media.schema


def test_image_features_unit_norm(spark, media):
    rows = mm.image_features(media, dim=16).select("media_id", "features").collect()
    assert all(len(r.features) == 16 for r in rows)
    for r in rows:
        norm = sum(x * x for x in r.features) ** 0.5
        assert abs(norm - 1.0) < 1e-5


def test_frame_sample_covers_payload(spark, media):
    frames = mm.frame_sample(media, every_n_bytes=32).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    # payload is 128 bytes → 4 frames each
    assert all(len(v) == 4 for v in by_media.values())
    assert all(len(bytes(r.frame_data)) <= 32 for r in frames)


def test_repartition_for_media(spark, media):
    out = mm.repartition_for_media(media, avg_item_bytes=64 << 20,
                                   target_partition_bytes=128 << 20,
                                   n_rows=16)
    assert out.rdd.getNumPartitions() == 8  # 16 rows / 2-per-part
    # total_bytes takes precedence over n_rows-derived sizing
    out2 = mm.repartition_for_media(media, avg_item_bytes=1,
                                    target_partition_bytes=128 << 20,
                                    total_bytes=512 << 20)
    assert out2.rdd.getNumPartitions() == 4
    # no stats → planning no-op, input partitioning kept
    assert (mm.repartition_for_media(media, avg_item_bytes=1)
            .rdd.getNumPartitions() == media.rdd.getNumPartitions())


def test_ocr_pipeline_end_to_end(spark):
    docs = spark.createDataFrame(
        [(1, bytearray(b"pdfbytes-1")), (2, bytearray(b"pdfbytes-2")), (3, None)],
        "doc_id long, content binary",
    )
    pages = ocr.ocr_documents(docs)
    got = pages.collect()
    assert all(r.doc_id in (1, 2) for r in got)  # null content → no pages

    # T7: base64 decode strips the data: prefix
    imgs = ocr.decode_images(pages).collect()
    assert all(bytes(r.image_bytes) == b"hello" for r in imgs)

    # T6: image links rewritten to the per-doc path
    rewritten = ocr.rewrite_image_links(pages, base_path="imgs").collect()
    for r in rewritten:
        assert f"](imgs/{r.doc_id}/{r.page_no}/img-{r.page_no}.jpeg)" in r.markdown
        assert "](img-" not in r.markdown

    # page assembly joins with \n\n in page order
    assembled = {r.doc_id: r for r in ocr.assemble_document_markdown(pages).collect()}
    for did, row in assembled.items():
        parts = row.markdown.split("\n\n")
        assert row.n_pages >= 1
        assert parts[0].startswith("# Page 0")


def test_acquisition_manifest_pipeline(spark):
    links = [
        ("Q1 2024 10-Q", "https://x/a/q1-doc.pdf"),
        ("Q1 2024 10-Q mirror", "https://x/b/q1-doc.pdf"),
        ("Form 10-K", "https://x/q4/ar.pdf"),
        ("Q2 commentary", "https://x/commentary/q2/c.pdf"),  # blacklisted
        ("Q3 deck", "https://x/q3/deck.pptx"),               # not .pdf
    ]
    manifest = acq.manifest_from_links(spark, links)
    classified = acq.classify_manifest(manifest)
    got = {(r.quarter, r.url) for r in classified.collect()}
    assert got == {
        ("Q1", "https://x/a/q1-doc.pdf"),
        ("Q1", "https://x/b/q1-doc.pdf"),
        ("Q4", "https://x/q4/ar.pdf"),
    }
    picked = acq.pick_first_per_quarter(classified)
    assert {r.quarter: r.url for r in picked.collect()} == {
        "Q1": "https://x/a/q1-doc.pdf",
        "Q4": "https://x/q4/ar.pdf",
    }
    fetched = acq.fetch_documents(picked)
    rows = fetched.collect()
    assert all(r.content is not None and len(bytes(r.content)) == 128 for r in rows)
    keyed = acq.landing_keys(fetched, base="bucket", year="2024")
    keys = {r.key for r in keyed.collect()}
    assert "bucket/nvidia_quarterly_report/2024/q1.pdf" in keys
    assert "bucket/nvidia_quarterly_report/2024/q4.pdf" in keys


def test_phash_identical_payloads_hash_equal(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    m = mm.synthesize_media(spark, n=8)
    twice = m.unionByName(
        m.select(
            (F.col("media_id") + 100).alias("media_id"),
            "kind", "mime", "data", "meta",
        )
    )
    hashed = mm.perceptual_hash(twice)
    pairs = mm.phash_near_dups(hashed, max_hamming=0).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert {(i, i + 100) for i in range(8)} <= got
    assert all(r.hamming == 0 for r in pairs)


def test_phash_near_copy_small_hamming(spark, sf_dir):
    """A same-length single-character edit moves ~1 pseudo-pixel, so the
    pHash must stay within a small hamming ball of the original — the
    locality property the banded matcher depends on (an md5-style stub
    would scatter it to ~32)."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    docs = schemas.load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 5) & (F.length("text") > 20)
    )
    orig = mm.media_from_documents(docs)
    edited = mm.media_from_documents(
        docs.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 10),
                F.lit("#"),
                F.expr("substring(text, 12)"),
            ).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    hashed = mm.perceptual_hash(orig.unionByName(edited))
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in mm.phash_near_dups(hashed, max_hamming=6).collect()
    }
    for i in [r.doc_id for r in docs.select("doc_id").collect()]:
        assert (i, i + 1000) in pairs, (i, pairs)
        assert pairs[(i, i + 1000)] <= 6


def test_phash_near_dups_rejects_uncovered_hamming(spark):
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    m = mm.perceptual_hash(mm.synthesize_media(spark, n=2))
    with pytest.raises(ValueError):
        mm.phash_near_dups(m, max_hamming=8, n_bands=8)
    # the combo form tightens the bound: c shared bands only cover
    # hamming <= n_bands - c
    with pytest.raises(ValueError):
        mm.phash_near_dups(m, max_hamming=7, n_bands=8, min_shared_bands=2)
    with pytest.raises(ValueError):
        mm.phash_near_dups(m, max_hamming=0, min_shared_bands=0)


def test_phash_combo_banding_equals_single_band(spark, sf_dir):
    """min_shared_bands=2 (the corpus-scale banding) must return the
    EXACT same verified pair set as the classic single-band form: both
    candidate sets are supersets of every pair within max_hamming (a
    pair at hamming h shares >= n_bands - h clean bands, so >= 2 when
    h <= 6 over 8 bands) and the exact bit_count verify prunes both to
    the identical final set."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    docs = schemas.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 60
    )
    base = docs.where((F.col("doc_id") < 10) & (F.length("text") > 20))
    edited = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 10), F.lit("#"), F.expr("substring(text, 12)")
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    hashed = mm.perceptual_hash(
        mm.media_from_documents(docs.unionByName(edited))
    )
    one = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_near_dups(hashed, max_hamming=6).collect()
    )
    two = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in mm.phash_near_dups(
            hashed, max_hamming=6, min_shared_bands=2
        ).collect()
    )
    assert one == two
    assert len(two) >= 8  # the planted edits are (almost all) found


def test_phash_payload_never_returns_from_python(spark):
    """One-way Arrow contract: the hashed frame must not carry the data
    column anymore (payloads stay JVM-side / are dropped)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    hashed = mm.perceptual_hash(mm.synthesize_media(spark, n=4))
    assert "data" not in hashed.columns
    assert {"media_id", "phash"} <= set(hashed.columns)


def test_phash_max_bucket_guard_drops_degenerate_bands(spark, sf_dir):
    """A band bucket larger than max_bucket is dropped (degenerate
    constant regions would turn the band join quadratic); with the cap
    above the bucket size the same pairs come back."""
    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm

    docs = schemas.load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 4
    )
    m = mm.media_from_documents(docs)
    twice = m.unionByName(
        m.select(
            (F.col("media_id") + 100).alias("media_id"),
            "kind", "mime", "data", "meta",
        )
    )
    hashed = mm.perceptual_hash(twice)
    # distinct texts -> distinct hashes; each duplicated hash's band
    # bucket holds exactly its 2 copies. cap=1 drops every bucket (no
    # pairs), cap=2 restores exactly the planted copy pairs.
    none = mm.phash_near_dups(hashed, max_hamming=0, max_bucket=1)
    assert none.isEmpty()
    some = mm.phash_near_dups(hashed, max_hamming=0, max_bucket=2).collect()
    assert {(r.id_a, r.id_b) for r in some} == {
        (r.doc_id, r.doc_id + 100) for r in docs.select("doc_id").collect()
    }


def test_phash_index_parity_and_streaming_extension(spark, sf_dir, tmp_path):
    """The durable pHash index must (a) reproduce the in-plan matcher
    exactly over the same corpus and (b) absorb a streamed batch of new
    media such that pairs equal a full in-plan run over the union —
    replay-idempotently (same _batch_id overwrites itself)."""
    import shutil

    from building_a_rag_pipeline_with_airflow_spark import schemas
    from building_a_rag_pipeline_with_airflow_spark.operators import multimodal as mm
    from building_a_rag_pipeline_with_airflow_spark.streaming import ingest

    docs = schemas.load_table(spark, sf_dir, "documents")
    base = mm.media_from_documents(docs.where(F.col("doc_id") < 40))
    copies = mm.media_from_documents(
        docs.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    idx = str(tmp_path / "phash_idx")
    mm.build_phash_index(base.unionByName(copies), idx)

    def pairs(df):
        return sorted((r.id_a, r.id_b, r.hamming) for r in df.collect())

    from_index = pairs(mm.phash_pairs_from_index(spark, idx, max_hamming=6))
    in_plan = pairs(
        mm.phash_near_dups(
            mm.perceptual_hash(base.unionByName(copies)), max_hamming=6
        )
    )
    assert from_index == in_plan and len(from_index) >= 10
    # the combo-banded matcher runs off the SAME stored layout (combo
    # keys derive in-plan from the stored rows) and must return the
    # identical verified pair set
    assert (
        pairs(
            mm.phash_pairs_from_index(
                spark, idx, max_hamming=6, min_shared_bands=2
            )
        )
        == from_index
    )

    # stream in a second wave of copies (doc_id+2000 of docs 10..19)
    wave = mm.media_from_documents(
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
            (F.col("doc_id") + 2000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    src = tmp_path / "media_stream"
    src.mkdir()
    wave.write.parquet(str(src / "w1"))
    for i, f in enumerate((src / "w1").glob("*.parquet")):
        shutil.move(str(f), src / f"w1_{i}.parquet")
    shutil.rmtree(src / "w1")
    ckpt = str(tmp_path / "phash_ckpt")

    def drain():
        raw = spark.readStream.schema(wave.schema).parquet(str(src))
        q = ingest.streaming_extend_phash_index(raw, idx, ckpt)
        q.awaitTermination(120)

    drain()
    extended = pairs(mm.phash_pairs_from_index(spark, idx, max_hamming=6))
    full = pairs(
        mm.phash_near_dups(
            mm.perceptual_hash(
                base.unionByName(copies).unionByName(wave)
            ),
            max_hamming=6,
        )
    )
    assert extended == full
    # the wave's copies actually matched their originals
    assert {(a, b) for a, b, _ in extended} >= {
        (i, i + 2000) for i in range(10, 20)
    }
    # replay idempotence: draining again (no new files) changes nothing
    drain()
    assert pairs(mm.phash_pairs_from_index(spark, idx, max_hamming=6)) == full


def test_phash_null_payloads_never_hash(spark, tmp_path):
    """NULL payloads are excluded at the perceptual_hash boundary: the
    stub decode otherwise mapped every one of them to a single constant
    zeros-image hash, clustering all missing-payload rows as mutual
    hamming-0 'near-dups' (a real decoder cannot hash missing bytes at
    all). Pins: hashing drops them, an all-NULL corpus fails the index
    build loudly instead of writing an empty bands layout the
    from-index read crashes on, and an all-NULL extension batch writes
    nothing."""
    from building_a_rag_pipeline_with_airflow_spark.streaming import ingest

    media = mm.synthesize_media(spark, n=4).select("media_id", "data").unionByName(
        spark.createDataFrame(
            [(101, None), (102, None)], "media_id bigint, data binary"
        )
    )
    hashed = mm.perceptual_hash(media)
    ids = sorted(r.media_id for r in hashed.collect())
    assert 101 not in ids and 102 not in ids and len(ids) == 4
    # before the guard these two formed a hamming-0 pair; now no pair
    # involves a NULL-payload id
    pairs = mm.phash_near_dups(hashed, max_hamming=0).collect()
    assert all(r.id_a not in (101, 102) and r.id_b not in (101, 102)
               for r in pairs)

    all_null = spark.createDataFrame(
        [(7, None)], "media_id bigint, data binary"
    )
    with pytest.raises(Exception, match="phash index band rows"):
        mm.build_phash_index(all_null, str(tmp_path / "bad"))

    idx = str(tmp_path / "idx")
    mm.build_phash_index(
        mm.synthesize_media(spark, n=4).select("media_id", "data"),
        idx,
        n_bands=4,
    )
    before = spark.read.parquet(f"{idx}/bands").count()
    landing = tmp_path / "landing"
    landing.mkdir()
    all_null.write.parquet(str(landing / "d1"))
    stream = spark.readStream.schema("media_id bigint, data binary").parquet(
        f"{landing}/*"
    )
    ingest.streaming_extend_phash_index(
        stream, idx, str(tmp_path / "ck")
    ).awaitTermination(120)
    assert spark.read.parquet(f"{idx}/bands").count() == before
