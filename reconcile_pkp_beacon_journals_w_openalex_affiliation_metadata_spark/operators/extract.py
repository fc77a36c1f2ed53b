"""documents.spans -> structured journal-record fields (order-preserving).

The reference extracts fields from HTML/JSON payloads per document
(parse_landing_page_html.py:54-97; parse_record_data_from_files.py:210-281).
Here documents are the ``input_hint`` interleaved span table; text spans carry
'KEY: value' lines. All span handling uses order-preserving array ops
(``filter``/``transform`` — never explode-and-regroup), keeping the per-row
span-sequence invariant (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import native
from ..functions.udfs import ascii_fold_udf
from ..partitioning import spread

_FIELDS = ["TITLE", "ISSN", "PUBLISHER", "COUNTRY", "URL"]


def _field(key: str) -> "F.Column":
    """Value of the first text span 'KEY: ...', in offset order.

    Span-level startswith instead of a multiline regex over the concatenated
    document: no giant intermediate string, and a body line that *contains*
    'TITLE:' can never false-match (spans are the unit of structure)."""
    prefix = key + ": "
    matches = F.filter(
        F.col("spans"),
        lambda s: (s["kind"] == F.lit("text")) & s["text"].startswith(prefix),
    )
    ordered = F.array_sort(
        matches, lambda a, b: a["offset"].cast("int") - b["offset"].cast("int")
    )
    first = F.try_element_at(ordered, F.lit(1))  # ANSI-safe: null when absent
    return F.nullif(F.substring(first["text"], len(prefix) + 1, 1 << 20), F.lit(""))


def extract_records(documents: DataFrame) -> DataFrame:
    """One row per document with typed fields + normalized forms.

    Normalization = ascii-fold (pandas UDF, the only Python crossing) composed
    with native lower/regex steps — F1 parity with check_landing_page...py:16-27.
    """
    # span filtering/sorting + the fold UDF are per-row expensive, and the
    # records output feeds the (heavier) blocking band UDFs — repair a
    # single-row-group scan's one-task parallelism up front (no-op when the
    # input is already parallel)
    df = spread(documents).select(
        "doc_id",
        F.when(F.col("doc_id").startswith("pkp:"), F.lit("pkp"))
        .otherwise(F.lit("oa"))
        .alias("side"),
        *[_field(f).alias(f.lower()) for f in _FIELDS],
    )
    return df.select(
        "*",
        native.norm_ascii(ascii_fold_udf(F.col("title"))).alias("norm_title"),
        native.normalize_issn(F.col("issn")).alias("norm_issn"),
        native.registrable_domain(F.col("url")).alias("domain"),
        native.norm_ascii(ascii_fold_udf(F.col("publisher"))).alias("norm_publisher"),
    )
