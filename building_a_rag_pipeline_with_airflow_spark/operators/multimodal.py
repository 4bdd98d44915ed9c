"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata (north-star operator family; no reference counterpart — the
reference stops at base64-decoded OCR images, ``testing_code/MistralTest.py:
66-88``).

Design: media payloads ride in a ``binary`` column next to a typed metadata
struct; per-item compute (decode, feature-extract, frame-sample) is
``mapInPandas`` over Arrow batches so bytes never round-trip through Python
row objects one at a time. The actual codec work needs media libraries that
are NOT in this container — the decode core is stubbed behind
``decode_image_stub`` (deterministic fake, clearly marked); everything
Spark-side (schema, batching, partition sizing, UDF signatures) is real and
tested.

Scale notes: media rows are large and skew-prone — ``repartition_for_media``
targets a byte budget per partition, not a row count; feature extraction
emits fixed-size vectors so downstream shuffles carry features, not bytes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from building_a_rag_pipeline_with_airflow_spark.operators import (
    bucket_pairs,
    keep_groups,
    require_nonempty,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


def decode_image_stub(data: bytes | None) -> tuple[int, int]:
    """STUB decode: deterministic fake (md5-derived WxH) standing in for a
    real image decoder (PIL/libvips not installed here). Replace the body
    with e.g. ``PIL.Image.open(io.BytesIO(data)).size`` in production —
    callers only see the (width, height) contract."""
    if not data:
        return (0, 0)
    h = hashlib.md5(data).digest()
    return (64 + h[0] % 192, 64 + h[1] % 192)


def synthesize_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake media corpus for tests: payload = packed id bytes
    (so decode_image_stub output is stable across runs/processes)."""
    rows = []
    for i in range(n):
        payload = struct.pack(">q", i) * 16
        rows.append((i, kind, f"{kind}/fake", bytearray(payload), None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Wrap a text table as a media table (payload = UTF-8 bytes of the
    text): gives the multimodal operators a deterministic corpus that any
    SQL oracle can reason about (md5/byte-length of the payload equal
    md5/octet_length of the text). Production replaces this with
    ``spark.read.format('binaryFile')``."""
    meta_t = MEDIA_SCHEMA["meta"].dataType
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(f"{kind}/fake").alias("mime"),
        F.col("text").cast("binary").alias("data"),
        F.lit(None).cast(meta_t).alias("meta"),
    )


def repartition_for_media(df: DataFrame, avg_item_bytes: int,
                          target_partition_bytes: int = 128 << 20,
                          n_rows: int | None = None,
                          total_bytes: int | None = None) -> DataFrame:
    """Partition by byte budget: media items are large, so row-count-based
    defaults under/overshoot wildly. Pure planning — never triggers a scan:
    the caller supplies size stats it already has from the source
    (``binaryFile`` gives a ``length`` column; a catalog gives table bytes).
    Pass either ``total_bytes`` (preferred) or ``n_rows``; with neither, the
    input partitioning is kept as-is."""
    if total_bytes is None and n_rows is not None:
        total_bytes = n_rows * max(1, avg_item_bytes)
    if total_bytes is None:
        return df
    n_parts = max(1, (total_bytes + target_partition_bytes - 1)
                  // target_partition_bytes)
    return df.repartition(n_parts)


def extract_image_meta(df: DataFrame, data_col: str = "data",
                       id_col: str = "media_id") -> DataFrame:
    """Decode (stubbed) → fill meta.width/height.

    The payload crosses the Arrow boundary exactly once: the UDF input is
    projected to (id, data) and the output is meta-only (id, width, height);
    the original row — payload included — never round-trips through the
    Python worker. The meta struct is joined back on the id (JVM-side,
    columnar); with a parquet source, column pruning means the join branch
    re-scans everything *but* the payload only when the caller keeps it."""

    dims_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("_w", T.IntegerType(), True),
            T.StructField("_h", T.IntegerType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf[data_col].map(
                lambda b: decode_image_stub(bytes(b) if b is not None else None)
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_w": dims.map(lambda d: d[0]).astype("int32"),
                    "_h": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    dims_df = df.select(id_col, data_col).mapInPandas(op, schema=dims_schema)
    meta_t = MEDIA_SCHEMA["meta"].dataType
    fields = [f.name for f in df.schema.fields]
    return (
        df.drop("meta")
        .join(dims_df, id_col)
        .withColumn(
            "meta",
            F.when(
                F.col("_w").isNotNull(),
                F.struct(
                    F.col("_w").alias("width"),
                    F.col("_h").alias("height"),
                    F.lit(None).cast("bigint").alias("duration_ms"),
                    F.lit(None).cast("int").alias("sample_rate"),
                ),
            ).cast(meta_t),
        )
        .select(*fields)
    )


def image_features(df: DataFrame, data_col: str = "data", dim: int = 16,
                   out_col: str = "features",
                   id_col: str = "media_id") -> DataFrame:
    """Deterministic byte-histogram feature vector (unit L2) — the fixed-size
    embedding a real vision model would produce; downstream similarity/dedup
    operators consume it exactly like text embeddings.

    Same one-way Arrow discipline as :func:`extract_image_meta`: the UDF
    reads (id, data), emits (id, features), and the fixed-size vectors are
    joined back — payload bytes never return from the Python worker."""

    feat_schema = T.StructType(
        [df.schema[id_col], T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for b in pdf[data_col]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8) if b is not None else np.array([], np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype("float64")
                norm = float(np.linalg.norm(hist))
                feats.append((hist / norm if norm else hist).astype("float32").tolist())
            yield pd.DataFrame({id_col: pdf[id_col], out_col: feats})

    feats_df = df.select(id_col, data_col).mapInPandas(op, schema=feat_schema)
    return df.join(feats_df, id_col)


def frame_sample(df: DataFrame, every_n_bytes: int = 32,
                 data_col: str = "data") -> DataFrame:
    """Video frame-sampling shape: 1 media row → N frame rows. The stub
    'frames' are byte slices; a real impl swaps the slicer for a codec. The
    explode keeps lineage columns so frames re-join to their source."""
    frame = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame_data", T.BinaryType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_no": [], "frame_data": []}
            for mid, b in zip(pdf["media_id"], pdf[data_col]):
                raw = bytes(b) if b is not None else b""
                for i in range(0, max(len(raw), 1), every_n_bytes):
                    out["media_id"].append(mid)
                    out["frame_no"].append(i // every_n_bytes)
                    out["frame_data"].append(raw[i : i + every_n_bytes])
            yield pd.DataFrame(out)

    return df.mapInPandas(op, schema=frame)


def perceptual_hash(df: DataFrame, data_col: str = "data",
                    id_col: str = "media_id",
                    out_col: str = "phash") -> DataFrame:
    """63-bit DCT perceptual hash per media row — the image twin of
    `dedup.simhash`: near-identical images get near-identical hashes, so
    near-dup detection becomes banded hamming matching
    (:func:`phash_near_dups`) instead of pairwise pixel comparison.

    The pipeline is the classic pHash: grayscale downsample to 32×32 →
    2-D DCT-II (numpy matrix form — no scipy dependency) → low-frequency
    8×8 block → median-threshold bits (DC skipped → 63 bits, fits a
    signed long). The DECODE step is the stub seam: pseudo-pixels come
    from resampling the raw payload bytes directly (LOCALITY-PRESERVING
    — a few changed bytes move a few pixels, exactly the property a real
    decoder+resize gives and the md5-style stub would destroy);
    production swaps ``_pixels`` for a real decode+resize. Same one-way
    Arrow discipline as :func:`image_features`: payload bytes never
    return from the Python worker, only (id, hash).

    NULL payloads are EXCLUDED before hashing (the IVF NULL-vector
    guard convention): a real decoder cannot hash missing bytes, and
    the stub would otherwise map every NULL payload to ONE constant
    zeros-image hash — hamming distance 0 between all of them, so a
    corpus with many missing payloads reports them as one giant false
    near-dup cluster. Zero-LENGTH payloads stay in (an empty byte
    string is still a payload; the stub decodes it deterministically)."""
    df = df.where(F.col(data_col).isNotNull())
    hash_schema = T.StructType(
        [df.schema[id_col], T.StructField(out_col, T.LongType())]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n = 32
        k = np.arange(n)[:, None]
        m = np.arange(n)[None, :]
        dct_mat = np.cos(np.pi * (m + 0.5) * k / n)  # DCT-II basis

        def _pixels(b) -> "np.ndarray":
            # STUB decode+resize: resample payload bytes onto the 32x32
            # grid (locality-preserving deterministic fake)
            arr = (
                np.frombuffer(bytes(b), dtype=np.uint8)
                if b is not None and len(b) > 0
                else np.zeros(1, np.uint8)
            )
            idx = np.linspace(0, len(arr) - 1, n * n).astype(np.int64)
            return arr[idx].astype(np.float64).reshape(n, n)

        for pdf in batches:
            hashes = []
            for b in pdf[data_col]:
                px = _pixels(b)
                coef = dct_mat @ px @ dct_mat.T
                block = coef[:8, :8].flatten()[1:]  # skip DC -> 63 coefs
                med = float(np.median(block))
                bits = (block > med).astype(np.uint64)
                h = 0
                for bit in bits:
                    h = (h << 1) | int(bit)
                hashes.append(h)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: hashes})

    hashed = df.select(id_col, data_col).mapInPandas(op, schema=hash_schema)
    return df.drop(data_col).join(hashed, id_col)


def phash_near_dups(hashed: DataFrame, max_hamming: int = 6,
                    id_col: str = "media_id",
                    hash_col: str = "phash",
                    n_bands: int = 8,
                    max_bucket: "int | None" = 100_000,
                    min_shared_bands: int = 1) -> DataFrame:
    """Near-duplicate media pairs from perceptual hashes: band the 64-bit
    hash into ``n_bands`` 8-bit slices, equi-join on (band index, band
    value) — pigeonhole guarantees any pair within hamming distance
    ``n_bands − 1`` shares at least one exact band — then verify the true
    hamming distance JVM-side (``bit_count(a XOR b)``, codegen'd) on
    candidates only. The same candidates-then-verify shape as the whole
    dedup ladder; never all-pairs. ``max_hamming`` must be < ``n_bands``
    for the guarantee to hold (raise ``n_bands`` for looser matching).

    Candidate cost is ``Σ_buckets |bucket|²``: healthy corpora spread
    hashes across the 256 values per band, but a degenerate constant
    region (all-black frames, blank scans) concentrates one bucket and
    turns the join quadratic — ``max_bucket`` DROPS band buckets larger
    than the cap (the ``linkage.max_block`` / ``baskets.max_items``
    contract: a degenerate band is an explicit modeling decision, and a
    pair of near-constant payloads loses only that band's vote — the
    other 7 bands still match identical-ish hashes). ``None`` disables.

    ``min_shared_bands`` is the corpus-SCALE lever: at n rows, CHANCE
    single-band collisions alone cost ~C(n,2)·n_bands·2^-width
    candidates — quadratic in corpus size with a constant that 8-bit
    bands stop absorbing around 10⁴ rows (measured: 5× the sf0.1 media
    corpus made the single-band candidate stage ~6× slower, the one
    superlinear row in the r7 scale-curve run). The pigeonhole argument
    gives the fix for free: a pair within hamming ≤ h differs in at
    most h bands, so it shares at least ``n_bands − h`` CLEAN bands —
    requiring candidates to collide on ``c = min_shared_bands`` bands
    at once (equi-join keyed on C(n_bands, c) band-combination values)
    keeps the guarantee for ``max_hamming ≤ n_bands − c`` while
    dividing the chance-collision rate by ~2^((c−1)·width)/C(n_bands,c)
    (c=2 over 8-bit bands: ~73× fewer chance candidates for 3.5× more
    banding rows). Equality with the c=1 pair set is pinned by test."""
    _check_band_budget(max_hamming, n_bands, min_shared_bands)
    hashes = hashed.select(F.col(id_col), F.col(hash_col))
    if min_shared_bands == 1:
        banded = _phash_band_rows(hashes, n_bands, id_col=id_col, hash_col=hash_col)
    else:
        banded = _phash_combo_rows(
            hashes, n_bands, min_shared_bands, id_col=id_col, hash_col=hash_col
        )
    return _phash_pairs(banded, max_hamming, max_bucket)


def _check_band_budget(max_hamming: int, n_bands: int,
                       min_shared_bands: int) -> None:
    """The pigeonhole guard of :func:`phash_near_dups` and
    :func:`phash_pairs_from_index`: a pair at hamming h shares at least
    ``n_bands - h`` clean bands, so ``min_shared_bands`` shared bands are
    only guaranteed while ``max_hamming <= n_bands - min_shared_bands``."""
    if min_shared_bands < 1:
        raise ValueError(f"min_shared_bands must be >= 1, got {min_shared_bands}")
    if max_hamming > n_bands - min_shared_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands - min_shared_bands "
            f">= max_hamming (got {n_bands} - {min_shared_bands}): a pair "
            f"at hamming h is only guaranteed {n_bands} - h shared clean "
            "bands"
        )


def _phash_pairs(banded: DataFrame, max_hamming: int,
                 max_bucket: "int | None") -> DataFrame:
    """The candidates-then-verify finisher of both pHash matchers over
    (media_id, phash, band_i, band_v) rows, derived in-plan or read from
    the index: drop band buckets above ``max_bucket``, self-join on
    (band_i, band_v), keep each pair once and verify ``bit_count(a XOR
    b) <= max_hamming``."""
    keys = ["band_i", "band_v"]
    if max_bucket is not None:
        banded = keep_groups(banded, keys, lambda c: c <= int(max_bucket))
    return (
        bucket_pairs(banded, keys, "media_id", ("phash",))
        .withColumn(
            "hamming",
            F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b"))).cast("int"),
        )
        .where(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def _check_n_bands(n_bands: int, op: str) -> None:
    """Band-count guard for the 63-bit pHash, shared by every banding
    consumer: n_bands < 1 bands to an EMPTY array (every row silently
    dropped), and n_bands > 8 extracts DUPLICATE bytes — the hash has
    exactly eight meaningful 8-bit slices, and the JVM shift count wraps
    mod 64, so band 8 re-reads band 0's byte: the index doubles with
    duplicate rows and min_shared_bands combinatorics silently skew."""
    if not (1 <= int(n_bands) <= 8):
        raise ValueError(
            f"{op}: n_bands must be in 1..8 (the 63-bit phash has eight "
            f"8-bit slices), got {n_bands}"
        )


def _phash_band_rows(hashed: DataFrame, n_bands: int,
                     id_col: str = "media_id",
                     hash_col: str = "phash") -> DataFrame:
    """(band_i, band_v, id, hash) rows — the stored/joined form shared by
    the in-plan matcher, the durable index build, and the streaming
    extension (one banding definition, three consumers)."""
    _check_n_bands(n_bands, "_phash_band_rows")
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_i"),
                F.shiftrightunsigned(F.col(hash_col), 8 * i)
                .bitwiseAND(F.lit(255))
                .cast("int")
                .alias("band_v"),
            )
            for i in range(int(n_bands))
        ]
    )
    return hashed.select(
        F.col(id_col).alias("media_id"),
        F.col(hash_col).alias("phash"),
        F.explode(bands).alias("_b"),
    ).select("media_id", "phash", "_b.band_i", "_b.band_v")


def _phash_combo_rows(hashed: DataFrame, n_bands: int, c: int,
                      id_col: str = "media_id",
                      hash_col: str = "phash") -> DataFrame:
    """(band_i, band_v, id, hash) rows keyed by ``c``-band COMBINATIONS:
    ``band_i`` enumerates the C(n_bands, c) index combos, ``band_v``
    packs the combo's band values into one bigint (8 bits per band —
    same extraction as :func:`_phash_band_rows`, so the two forms band
    identically). The scale form of the banding: candidates must share
    ``c`` whole bands at once, which the pigeonhole bound guarantees for
    every pair within hamming ≤ n_bands − c (see
    :func:`phash_near_dups`). C(n_bands, c) rows per item instead of
    n_bands — bounded, plan-time-enumerated, still pure Catalyst."""
    from itertools import combinations

    def band(i):
        return (
            F.shiftrightunsigned(F.col(hash_col), 8 * i)
            .bitwiseAND(F.lit(255))
            .cast("bigint")
        )

    combos = list(combinations(range(int(n_bands)), int(c)))
    entries = F.array(
        *[
            F.struct(
                F.lit(ci).alias("band_i"),
                sum(
                    (band(i) * F.lit(1 << (8 * k)) for k, i in enumerate(combo)),
                    F.lit(0).cast("bigint"),
                ).alias("band_v"),
            )
            for ci, combo in enumerate(combos)
        ]
    )
    return hashed.select(
        F.col(id_col).alias("media_id"),
        F.col(hash_col).alias("phash"),
        F.explode(entries).alias("_b"),
    ).select("media_id", "phash", "_b.band_i", "_b.band_v")


def build_phash_index(df: DataFrame, path: str, n_bands: int = 8,
                      data_col: str = "data",
                      id_col: str = "media_id") -> None:
    """Materialize the perceptual-hash near-dup index on storage — the
    MEDIA rung of the durable-index family (shingle / postings / IVF):
    hash every payload ONCE at build time; queries and extensions then
    touch only (band, hash) rows, never payload bytes.

    Layout: ``<path>/bands/band_i=I/_batch_id=-1/`` — band rows
    partitioned by band index, sorted by ``band_v`` within files so a
    band-value lookup row-group-skips via min/max stats; ``<path>/meta``
    holds (n_bands). Streaming extension appends under new ``_batch_id``
    partitions (``streaming.ingest.streaming_extend_phash_index``);
    no extended-mode flag is needed because the pairs query derives
    EVERYTHING (bucket sizes included) from the stored rows in-plan —
    there are no batch-local denormalized statistics to go stale."""
    from building_a_rag_pipeline_with_airflow_spark.sources import index_layout

    # family build-guard rule (r9 advice) — checked BEFORE the hashing
    # UDF spends compute; _phash_band_rows re-checks for in-plan callers
    _check_n_bands(n_bands, "build_phash_index")
    hashed = perceptual_hash(df, data_col=data_col, id_col=id_col)
    rows = _phash_band_rows(hashed, n_bands, id_col=id_col)
    # perceptual_hash excludes NULL payloads — a corpus of ONLY missing
    # payloads must fail loudly here, not write an empty bands layout
    # every phash_pairs_from_index read would crash on (the trigram/
    # shingle all-NULL build rule)
    require_nonempty(rows, "phash index band rows")
    index_layout.write_index_rows(
        rows,
        f"{path}/bands",
        partition_cols=("band_i",),
        sort_col="band_v",
        n_files=n_bands,
    )
    index_layout.write_meta(
        df.sparkSession.createDataFrame([(int(n_bands),)], "n_bands int"), path
    )


def phash_pairs_from_index(spark, path: str, max_hamming: int = 6,
                           max_bucket: "int | None" = 100_000,
                           min_shared_bands: int = 1) -> DataFrame:
    """Near-dup pairs from a :func:`build_phash_index` layout: the
    stored band rows go through :func:`phash_near_dups`' own guard
    (``_check_band_budget``) and finisher (``_phash_pairs``), so payloads
    are never re-hashed — the scan reads band rows only. The
    ``max_bucket`` degenerate-band guard is recounted in-plan over the
    stored rows (batch-extension-safe by construction — nothing
    denormalized to go stale).

    ``min_shared_bands`` (the corpus-scale banding, see
    :func:`phash_near_dups`) needs NO layout change or migration: every
    stored band row carries the full hash, so the combo keys derive
    in-plan from one distinct pass over the stored rows — the durable
    index keeps its point-lookup-prunable single-band layout while the
    all-pairs matcher gets the collision-resistant candidate keys."""
    from building_a_rag_pipeline_with_airflow_spark.sources import index_layout

    meta = index_layout.read_meta(spark, path)
    n_bands = int(meta["n_bands"])
    _check_band_budget(max_hamming, n_bands, min_shared_bands)
    rows = spark.read.parquet(f"{path}/bands").select(
        "media_id", "phash", "band_i", "band_v"
    )
    if min_shared_bands > 1:
        rows = _phash_combo_rows(
            rows.select("media_id", "phash").dropDuplicates(["media_id"]),
            n_bands,
            min_shared_bands,
        )
    return _phash_pairs(rows, max_hamming, max_bucket)
