"""Schema-asserting readers (SURVEY S1-S3, S7).

The reference reads header-declared CSVs with required-column validation
(check_landing_page...py:51-62; retrieve_landing_pages.py:171-177), gzipped
JSONL line streams (main.rs:680-747; parse_record_data_from_files.py:385-390),
recursive globbed file trees (main.rs:147-168; vlm_text_extractor.py:599-608)
and whole files (parse_landing_page_html.py:51-52). Spark equivalents —
never inferSchema in the engine."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import assert_schema


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType,
    required: list[str] | None = None,
) -> DataFrame:
    """S1: header CSV with explicit schema + required-column validation."""
    df = spark.read.schema(schema).option("header", True).csv(path)
    return assert_schema(df, required or schema, name=path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType,
    recursive: bool = False, glob: str | None = None,
) -> DataFrame:
    """S2/S3: (gzipped) JSONL with projected schema — Spark prunes to the
    supplied schema exactly as the reference's serde struct does
    (main.rs:69-84); gzip codec auto-detected; blank lines skipped natively.
    Malformed lines surface in ``_corrupt_record`` (P6 routing, not drops)."""
    s = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    reader = (
        spark.read.schema(s)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.json(path)


def read_whole_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S7: whole-file binary scan -> (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def with_deterministic_file_order(df: DataFrame) -> DataFrame:
    """O2: stable per-file processing order (vlm_text_extractor.py:608 sorts
    the file list before iterating). Spark's scan order is nondeterministic
    across runs/partitionings; tagging each row with ``input_file_name()``
    and sorting on it restores a deterministic total file order for
    order-sensitive sinks (one-file-per-record layouts, progress logs). The
    tag column is ``_input_file``."""
    from pyspark.sql import functions as F

    return df.withColumn("_input_file", F.input_file_name()).orderBy("_input_file")
