"""Explicit StructTypes for every engine table (never inferSchema).

The reference declares schemas as CSV header lists + required-column checks
(parse_record_data_from_files.py:15-27; check_landing_page...py:48,58-62;
utils/get_stats.py:40-43). Here each is a StructType and ``assert_schema``
is the runtime required-column validation analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- the input_hint table: interleaved text + media documents ----------------
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # 'text' | 'media'
        T.StructField("text", T.StringType(), True),        # '' for media spans
        T.StructField("media_ref", T.StringType(), True),   # '' for text spans
        T.StructField("offset", T.IntegerType(), False),    # 0-based, ordered
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# --- PKP-Beacon-shaped journals (FIXTURES.md §2) ------------------------------
PKP_JOURNALS = T.StructType(
    [
        T.StructField("journal_id", T.StringType(), False),
        T.StructField("oai_url", T.StringType(), True),
        T.StructField("issn", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("publisher", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
    ]
)

# --- OpenAlex-shaped nested works (FIXTURES.md §3; main.rs:69-84) -------------
_LOCATION = T.StructType(
    [
        T.StructField("landing_page_url", T.StringType(), True),
        T.StructField("pdf_url", T.StringType(), True),
        T.StructField("doi", T.StringType(), True),
    ]
)

AUTHORSHIP = T.StructType(
    [
        T.StructField("raw_author_name", T.StringType(), True),
        T.StructField(
            "author", T.StructType([T.StructField("display_name", T.StringType(), True)]), True
        ),
        T.StructField("raw_affiliation_strings", T.ArrayType(T.StringType()), True),
    ]
)

OPENALEX_WORKS = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("doi", T.StringType(), True),
        T.StructField("primary_location", _LOCATION, True),
        T.StructField("best_oa_location", _LOCATION, True),
        T.StructField(
            "locations",
            T.ArrayType(
                T.StructType([T.StructField("landing_page_url", T.StringType(), True)])
            ),
            True,
        ),
        T.StructField("authorships", T.ArrayType(AUTHORSHIP), True),
    ]
)

# --- landing-page parse rows (FIXTURES.md §4; parse_landing_page_html.py:243-244)
LANDING_PAIRS = T.StructType(
    [
        T.StructField("RelativeFilePath", T.StringType(), False),
        T.StructField("DOI", T.StringType(), True),
        T.StructField("Author", T.StringType(), True),
        T.StructField("Institution", T.StringType(), True),
        T.StructField("Source", T.StringType(), True),
    ]
)

# --- labeled ground truth (FIXTURES.md §5) ------------------------------------
LABELED_PAIRS = T.StructType(
    [
        T.StructField("left_id", T.StringType(), False),
        T.StructField("right_id", T.StringType(), False),
        T.StructField("blocking_key", T.StringType(), True),
        T.StructField("is_match", T.BooleanType(), False),
    ]
)


def assert_schema(df: DataFrame, required: T.StructType | list[str], name: str = "df") -> DataFrame:
    """Required-column validation, the reference's runtime schema check
    (check_landing_page...py:58-62; retrieve_landing_pages.py:171-177)."""
    cols = set(df.columns)
    wanted = [f.name for f in required.fields] if isinstance(required, T.StructType) else required
    missing = [c for c in wanted if c not in cols]
    if missing:
        raise ValueError(f"{name}: missing required columns {missing}; has {sorted(cols)}")
    return df
