"""Multimodal span handling: media decode / feature-extract plumbing.

The reference extracts text from page images with a VLM
(vlm_text_extractor.py:402-549, prompt :223-224) and downloads PDFs
(retrieve_pkp_work_url_download_pdf.py:52-64). In our engine media are
opaque spans (kind='media', media_ref) inside the ``documents`` table; this
module provides the Spark-side plumbing — schema, batching, partitioning —
around ``fake_decode``, a deterministic stand-in for the VLM/OCR call that
keeps the pipeline testable without image libraries.

All processing is ``mapInPandas`` over Arrow batches: one batch in, one
batch of (doc_id, media_ref, extracted_text, n_bytes) out — exactly the
shape a real VLM/OCR endpoint client would use (the reference batches by
image file; we batch by Arrow chunk).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def fake_decode(media_ref: str) -> str:
    """Deterministic stand-in: stable pseudo-text derived from the ref."""
    h = zlib.crc32(media_ref.encode("utf-8"))
    return f"extracted text {h:08x}"


def media_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, media_ref) for every media span, span order preserved."""
    return documents.select(
        "doc_id",
        F.explode(
            F.filter("spans", lambda s: s["kind"] == F.lit("media"))
        ).alias("m"),
    ).select("doc_id", F.col("m.media_ref").alias("media_ref"), F.col("m.offset").alias("offset"))


def extract_media_text(documents: DataFrame) -> DataFrame:
    """mapInPandas media->text extraction (S11). Each Arrow batch maps to one
    inference call in production; here the fake decoder runs per batch.

    Partitioning: media rows are exploded then processed where they live —
    no shuffle; at cluster scale repartition by doc_id first if the media
    blobs are fetched from an object store keyed by doc."""
    spans = media_spans(documents)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id", "media_ref"]].copy()
            out["extracted_text"] = out["media_ref"].map(fake_decode)
            out["n_bytes"] = out["media_ref"].str.len().astype("int64")
            yield out

    return spans.mapInPandas(run, schema=EXTRACT_SCHEMA)


def attach_extracted_text(documents: DataFrame) -> DataFrame:
    """Rewrite each media span's text with the extracted text, keeping the
    span sequence (kind, media_ref, offset) bit-identical — the per-row
    invariant. Order-preserving: transform() only, no explode/regroup."""
    # array_distinct before map_from_entries: a document with two media spans
    # sharing a media_ref would otherwise hit Spark's default
    # mapKeyDedupPolicy=EXCEPTION at runtime (decode is deterministic per
    # ref, so duplicate entries are identical structs).
    extracted = extract_media_text(documents).groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_distinct(F.collect_list(F.struct("media_ref", "extracted_text")))
        ).alias("media_text")
    )
    joined = documents.join(extracted, "doc_id", "left")
    new_spans = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(
                (s["kind"] == "media") & F.col("media_text").isNotNull(),
                F.coalesce(F.col("media_text")[s["media_ref"]], s["text"]),
            )
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return joined.select("doc_id", new_spans.alias("spans"))
