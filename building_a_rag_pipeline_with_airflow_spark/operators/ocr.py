"""OCR / document-conversion path (reference S8/T6/T7, D2 nested schema).

Reference behavior (``testing_code/MistralTest.py``):
* PDF → per-page ``{markdown, images:[{id, image_base64}]}`` via the Mistral
  OCR API (:41-54) — an external service that cannot be in a hermetic
  engine; here it is an adapter seam: any callable ``bytes -> list[page]``
  plugs in, and the default is a deterministic fake.
* base64 image decode after stripping the ``data:`` prefix (:69-72) →
  ``unbase64(regexp_replace(...))`` — pure SQL.
* markdown image-link rewrite ``![id](id)`` → new path (:27-30,63-86) →
  per-image ``replace`` folded over the exploded images array — pure SQL
  via ``aggregate``.
* pages joined with ``\\n\\n`` (:88) → ``array_join(collect_list)``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fake_ocr(content: bytes | None) -> list[dict]:
    """Deterministic hermetic stand-in for the OCR service (same page shape
    as the Mistral response, MistralTest.py:32-39). Pages/figures derive
    from the content hash so tests are exact."""
    if not content:
        return []
    h = hashlib.md5(content).hexdigest()
    n_pages = 1 + int(h[0], 16) % 3
    pages = []
    for p in range(n_pages):
        img_id = f"img-{p}.jpeg"
        pages.append(
            {
                "markdown": f"# Page {p} ({h[:8]})\n\nbody text p{p} "
                f"![{img_id}]({img_id})",
                "images": [
                    {
                        "id": img_id,
                        # data-URI form, as the reference strips it (:69-71)
                        "image_base64": "data:image/jpeg;base64,aGVsbG8=",
                    }
                ],
            }
        )
    return pages


def ocr_documents(binary_docs: DataFrame, ocr_fn=fake_ocr,
                  id_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """binary docs → one row per page (doc_id, page_no, markdown, images).

    The OCR callable runs inside mapInPandas (Arrow batches); swap
    ``ocr_fn`` for a real client in production — the plan is identical.
    """
    # nested list<struct> can't cross the pandas→Arrow boundary (NumPy
    # converter limitation), so the UDF emits images as a JSON string and
    # from_json restores the typed array<struct> on the JVM side.
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("markdown", T.StringType()),
            T.StructField("images_json", T.StringType()),
        ]
    )
    images_type = "array<struct<id:string,image_base64:string>>"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        for pdf in batches:
            rows = {"doc_id": [], "page_no": [], "markdown": [], "images_json": []}
            for did, content in zip(pdf[id_col], pdf[content_col]):
                for i, page in enumerate(ocr_fn(bytes(content) if content is not None else None)):
                    rows["doc_id"].append(did)
                    rows["page_no"].append(i)
                    rows["markdown"].append(page["markdown"])
                    rows["images_json"].append(
                        json.dumps(
                            [
                                {"id": im["id"], "image_base64": im["image_base64"]}
                                for im in page["images"]
                            ]
                        )
                    )
            yield pd.DataFrame(rows)

    return (
        binary_docs.mapInPandas(op, schema=out_schema)
        .withColumn("images", F.from_json("images_json", images_type))
        .drop("images_json")
    )


def decode_images(pages: DataFrame) -> DataFrame:
    """Explode page images and decode base64 payloads (reference T7,
    MistralTest.py:69-72): strip any ``data:...,`` prefix, unbase64 — all
    built-ins. Output: doc_id, page_no, image_id, image_bytes."""
    img = pages.select(
        "doc_id", "page_no", F.explode("images").alias("im")
    )
    b64 = F.regexp_replace(F.col("im.image_base64"), "^data:[^,]*,", "")
    return img.select(
        "doc_id",
        "page_no",
        F.col("im.id").alias("image_id"),
        F.unbase64(b64).alias("image_bytes"),
    )


def rewrite_image_links(pages: DataFrame, base_path: str = "images") -> DataFrame:
    """Reference T6 (replace_images_in_markdown, MistralTest.py:27-30):
    rewrite each ``![id](id)`` to ``![id](base/doc/page/id)``.

    Pure SQL: fold the images array over the markdown with ``aggregate`` —
    one replace per image, no UDF."""
    new_md = F.aggregate(
        F.col("images"),
        F.col("markdown"),
        lambda md, im: F.replace(
            md,
            F.concat(F.lit("!["), im["id"], F.lit("]("), im["id"], F.lit(")")),
            F.concat(
                F.lit("!["), im["id"], F.lit("]("), F.lit(base_path), F.lit("/"),
                F.col("doc_id").cast("string"), F.lit("/"),
                F.col("page_no").cast("string"), F.lit("/"), im["id"], F.lit(")"),
            ),
        ),
    )
    return pages.withColumn("markdown", new_md)


def assemble_document_markdown(pages: DataFrame) -> DataFrame:
    """Pages → one markdown per doc, joined with blank lines (reference
    MistralTest.py:88: ``"\\n\\n".join(markdowns)``), page order preserved
    via sort_array over (page_no, markdown) structs."""
    return (
        pages.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("page_no", "markdown"))
                ).getField("markdown"),
                "\n\n",
            ).alias("markdown"),
            F.count("*").cast("int").alias("n_pages"),
        )
    )
