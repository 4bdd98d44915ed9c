"""Acquisition stage (reference S1-S6: Selenium scrapes + HTTP downloads,
``Airflow/dags/nvidia_quarterly_reports_pipeline.py:92-273``).

Browser automation is an external, non-distributed concern; the engine's
contract starts at the *link manifest*: a DataFrame[link_text, url] from any
scraper. Everything after that — quarter classification (F3), supplementary
blacklist (F2), `.pdf` suffix gate (F1), first-per-quarter pick, fetch — is
distributed and expressed here. The fetch UDF is pluggable; default is a
deterministic fake so tests are hermetic (the reference's live-site pytest,
``testing_code/webscraping_using_selenium.py:97-120``, is exactly the
anti-pattern we avoid).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from building_a_rag_pipeline_with_airflow_spark.operators.tabular import classify_quarter

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("link_text", T.StringType(), True),
        T.StructField("url", T.StringType(), False),
    ]
)


def manifest_from_links(spark: SparkSession, links: list[tuple[str, str]]) -> DataFrame:
    """Scraper output → manifest DataFrame (the S1/S2/S3 seam)."""
    return spark.createDataFrame(links, MANIFEST_SCHEMA)


def classify_manifest(manifest: DataFrame) -> DataFrame:
    """Apply F1 (.pdf gate), F2 (blacklist) and F3 (quarter classification)
    — reference dags:170-203 — returning only usable (quarter, url) rows."""
    return (
        manifest.where(F.col("url").endswith(".pdf"))
        .withColumn("quarter", classify_quarter("link_text", "url"))
        .where(F.col("quarter").isNotNull())
    )


def pick_first_per_quarter(classified: DataFrame) -> DataFrame:
    """The reference downloads only the first URL per quarter
    (``download_report`` takes url_list[0], dags:249-256): deterministic
    window top-1 by url."""
    w = Window.partitionBy("quarter").orderBy("url")
    return (
        classified.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def fake_fetch(url: str) -> bytes:
    """Deterministic hermetic stand-in for requests.get(url).content
    (reference S4 dags:224-273 / S5 chromadb_rag.py:35-46)."""
    return hashlib.md5(url.encode()).hexdigest().encode() * 4


def fetch_documents(manifest: DataFrame, fetch_fn=fake_fetch,
                    url_col: str = "url") -> DataFrame:
    """Distributed fetch: one HTTP GET per manifest row inside mapInPandas
    (parallel across partitions — the reference fetches serially on one
    worker). Swap ``fetch_fn`` for a real client (with timeout/retry) in
    production."""
    out_schema = T.StructType(
        manifest.schema.fields + [T.StructField("content", T.BinaryType())]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = pdf[url_col].map(
                lambda u: bytearray(fetch_fn(u)) if u else None
            )
            yield pdf

    return manifest.mapInPandas(op, schema=out_schema)


def landing_keys(docs: DataFrame, base: str, year: str) -> DataFrame:
    """Compute the partitioned object-store key per document (reference K1
    layout ``{base}/nvidia_quarterly_report/{year}/{quarter}.pdf``,
    dags:321-328,358) — the write itself is one ``partitionBy`` write."""
    return docs.withColumn(
        "key",
        F.concat_ws(
            "/",
            F.lit(base),
            F.lit("nvidia_quarterly_report"),
            F.lit(year),
            F.concat(F.lower("quarter"), F.lit(".pdf")),
        ),
    )
