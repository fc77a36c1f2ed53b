"""Landing-page HTML metadata extraction (F20 / SURVEY §2.10).

Re-expresses the reference's BeautifulSoup pipeline
(parse_landing_page_html.py:25-110) as a vectorized pandas UDF over real
HTML strings:

- filename (base64 of the DOI, retrieve_landing_pages.py:125-128) -> DOI.
  The reference *decodes* with the standard alphabet (py:43) although the
  *encoder* used urlsafe_b64encode — std b64decode silently discards '-'/'_'
  and mangles such DOIs. We decode urlsafe (native.filename_to_doi parity);
  for filenames containing no '-'/'_' the two agree byte-for-byte.
- meta-tag state machine (py:54-81): citation_author opens a group, each
  citation_author_institution attaches to the most recent author, an
  author with no institutions flushes as (author, '').
- ul.authors extraction (py:83-97): the FIRST <ul class="authors">, its
  DIRECT <li> children, first descendant span.name / span.affiliation,
  bs4 get_text(strip=True) semantics (strip each text node, join '').

The per-file dict merge (py:188-228) is NOT re-implemented here in Python:
the UDF emits raw (author, institution, source, seq) rows and the existing
``span_pairing.dedup_pairs_with_sources`` operator reproduces the merge
distributively (first-meta / last-ul original selection, sorted source-set
join) — one groupBy instead of a driver-side dict.

Parsing uses only the stdlib ``html.parser`` (bs4 is not installed here);
for well-formed pages (explicit closing tags) the tree walk below matches
BeautifulSoup's 'html.parser' builder on every construct we emit or test.
It additionally applies the HTML5 implied-end-tag rules for <li> (a new
<li> at list level, or </ul>, closes an open item) — scraped pages
routinely omit </li>, which is valid HTML5.
"""

from __future__ import annotations

import base64
import binascii
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_doi_filename(filename: str) -> tuple[str, str | None]:
    """filename -> (doi, error). Mirrors py:38-48 with urlsafe alphabet."""
    base = filename.rsplit(".", 1)[0] if "." in filename else filename
    pad = len(base) % 4
    if pad:
        base += "=" * (4 - pad)
    try:
        return base64.b64decode(base.translate(str.maketrans("-_", "+/"))).decode(
            "utf-8"
        ), None
    except (binascii.Error, UnicodeDecodeError, ValueError) as e:
        return "", f"DOI decoding error for filename '{filename}': {e}"


class _LandingPageParser(HTMLParser):
    """One pass: meta tags in document order + the first ul.authors block."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.metas: list[dict] = []
        # ul.authors capture state
        self._ul_done = False
        self._ul_depth = 0          # >0 while inside the captured ul
        self._li_depth = 0          # >0 while inside a DIRECT li child
        self._span_kind: str | None = None
        self._span_depth = 0
        self._cur_li: dict | None = None
        self.ul_items: list[dict] = []

    @staticmethod
    def _classes(attrs) -> list[str]:
        for k, v in attrs:
            if k == "class" and v:
                return v.split()
        return []

    def _attr(self, attrs, name):
        for k, v in attrs:
            if k == name:
                return v
        return None

    def _flush_li(self):
        """Close the open direct li (explicit or HTML5-implied): emit the
        item and reset any span capture still open inside it."""
        if self._cur_li is not None:
            self.ul_items.append(self._cur_li)
            self._cur_li = None
        self._span_kind, self._span_depth = None, 0

    def handle_starttag(self, tag, attrs):
        if tag == "meta":
            self.metas.append({k: v for k, v in attrs})
            return
        if self._ul_depth:
            self._ul_depth += 1 if tag == "ul" else 0
            if tag == "li" and self._li_depth == 0 and self._ul_depth == 1:
                self._li_depth = 1
                self._cur_li = {"name": None, "affiliation": None}
                return
            if self._li_depth:
                if tag == "li":
                    if self._ul_depth == 1 and self._li_depth == 1:
                        # HTML5 implied </li>: a new li at list level closes
                        # the open one (pages routinely omit </li>); without
                        # this every subsequent li nests and all authors
                        # collapse into the first item
                        self._flush_li()
                        self._li_depth = 1
                        self._cur_li = {"name": None, "affiliation": None}
                        return
                    self._li_depth += 1
                elif tag == "span" and self._span_kind is None and self._cur_li is not None:
                    cls = self._classes(attrs)
                    if "name" in cls and self._cur_li["name"] is None:
                        self._span_kind, self._span_depth = "name", 1
                        self._cur_li["name"] = []
                    elif "affiliation" in cls and self._cur_li["affiliation"] is None:
                        self._span_kind, self._span_depth = "affiliation", 1
                        self._cur_li["affiliation"] = []
                elif tag == "span" and self._span_kind is not None:
                    self._span_depth += 1
        elif not self._ul_done and tag == "ul" and "authors" in self._classes(attrs):
            self._ul_depth = 1

    def handle_startendtag(self, tag, attrs):
        if tag == "meta":
            self.metas.append({k: v for k, v in attrs})

    def handle_endtag(self, tag):
        if not self._ul_depth:
            return
        if tag == "span" and self._span_kind is not None:
            self._span_depth -= 1
            if self._span_depth == 0:
                self._span_kind = None
            return
        if tag == "li" and self._li_depth:
            self._li_depth -= 1
            if self._li_depth == 0:
                self._flush_li()
            return
        if tag == "ul":
            self._ul_depth -= 1
            if self._ul_depth == 0:
                # HTML5 implied </li>: </ul> closes a still-open list item
                if self._li_depth:
                    self._li_depth = 0
                    self._flush_li()
                self._ul_done = True

    def handle_data(self, data):
        if self._span_kind is not None and self._cur_li is not None:
            # bs4 get_text(strip=True): strip each text node, join ''
            s = data.strip()
            if s:
                self._cur_li[self._span_kind].append(s)


def parse_landing_page(html: str) -> tuple[list, list, bool, bool]:
    """-> (meta_pairs [(author, [insts])], ul_pairs [(author, affil)],
    has_author_tag, has_institution_tag). Mirrors py:54-97."""
    p = _LandingPageParser()
    p.feed(html or "")
    p.close()

    meta_pairs: list[tuple[str, list[str]]] = []
    cur_author: str | None = None
    cur_insts: list[str] = []
    has_author = has_inst = False
    for tag in p.metas:
        name = (tag.get("name") or "").lower()
        content = tag.get("content")
        if not content:
            continue
        content = content.strip()
        if not content:
            continue
        if name == "citation_author":
            has_author = True
            if cur_author is not None:
                meta_pairs.append((cur_author, cur_insts))
            cur_author, cur_insts = content, []
        elif name == "citation_author_institution":
            has_inst = True
            if cur_author is not None:
                cur_insts.append(content)
    if cur_author is not None:
        meta_pairs.append((cur_author, cur_insts))

    ul_pairs: list[tuple[str, str]] = []
    for item in p.ul_items:
        author = "".join(item["name"]) if item["name"] is not None else None
        affil = "".join(item["affiliation"]) if item["affiliation"] is not None else ""
        if author:
            ul_pairs.append((author, affil))
    return meta_pairs, ul_pairs, has_author, has_inst


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doi", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("has_author_tag", T.BooleanType()),
        T.StructField("has_institution_tag", T.BooleanType()),
        T.StructField("has_ul_authors", T.BooleanType()),
        T.StructField(
            "pairs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("author", T.StringType()),
                        T.StructField("institution", T.StringType()),
                        T.StructField("source", T.StringType()),
                        T.StructField("seq", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


@F.pandas_udf(_OUT_SCHEMA)
def _extract_udf(filenames: pd.Series, htmls: pd.Series) -> pd.DataFrame:
    out = {k.name: [] for k in _OUT_SCHEMA.fields}
    for fname, html in zip(filenames, htmls):
        doi, err = decode_doi_filename(fname or "")
        # content errors are routed, not raised (py:101-108): stdlib
        # HTMLParser is lenient, but a pathological page (e.g. recursion
        # blowup) must mark the file failed instead of killing the job
        try:
            meta_pairs, ul_pairs, has_a, has_i = parse_landing_page(html)
        except Exception as e:  # noqa: BLE001 — reference catches broadly too
            content_err = f"Error processing file content: {e}"
            err = f"{content_err}; {err}" if err else content_err
            meta_pairs, ul_pairs, has_a, has_i = [], [], False, False
        rows = []
        seq = 0
        # emission order = the reference's merge iteration order (py:191-219):
        # all meta rows (one per institution; none -> ''), then all ul rows
        for author, insts in meta_pairs:
            for inst in insts or [""]:
                rows.append((author, inst, "meta", seq))
                seq += 1
        for author, affil in ul_pairs:
            rows.append((author, affil, "ul.authors", seq))
            seq += 1
        out["doi"].append(doi)
        out["error"].append(err)
        out["has_author_tag"].append(has_a)
        out["has_institution_tag"].append(has_i)
        out["has_ul_authors"].append(bool(ul_pairs))
        out["pairs"].append(rows)
    return pd.DataFrame(out, index=filenames.index)


def extract_html_pairs(df: DataFrame) -> DataFrame:
    """(file_name, html, ...) -> one row per extracted raw pair:
    (<carried cols>, doi, author, institution, source, seq) plus per-file
    tag flags. Feed the result to ``span_pairing.dedup_pairs_with_sources``
    (keyed on file) for the reference's merged CSV rows."""
    parsed = df.withColumn("_x", _extract_udf(F.col("file_name"), F.col("html")))
    return (
        parsed.select(
            "*",
            F.col("_x.doi").alias("doi"),
            F.col("_x.error").alias("error"),
            F.col("_x.has_author_tag").alias("has_author_tag"),
            F.col("_x.has_institution_tag").alias("has_institution_tag"),
            F.col("_x.has_ul_authors").alias("has_ul_authors"),
            F.explode_outer("_x.pairs").alias("_p"),
        )
        .drop("_x", "html")
        .select(
            "*",
            F.col("_p.author").alias("author"),
            F.col("_p.institution").alias("institution"),
            F.col("_p.source").alias("source"),
            F.col("_p.seq").alias("seq"),
        )
        .drop("_p")
    )


def html_parse_stats(extracted: DataFrame) -> DataFrame:
    """The reference's parsing_stats block (py:123-129,250-289) as one agg."""
    per_file = extracted.groupBy("file_name").agg(
        F.first("has_author_tag").alias("a"),
        F.first("has_institution_tag").alias("i"),
        F.first("has_ul_authors").alias("u"),
        F.first("error").alias("e"),
    )
    # processed_ok mirrors py:162-177: a pure DOI-decoding error still counts
    # as processed; a content error (or combined content+DOI error) does not
    processed = F.col("e").isNull() | (
        F.col("e").contains("DOI decoding error")
        & ~F.col("e").contains("Error processing file content")
    )
    return per_file.agg(
        F.count("*").alias("total_files"),
        F.sum(processed.cast("long")).alias("files_processed_ok"),
        F.sum(F.col("a").cast("long")).alias("files_with_author_tag"),
        F.sum(F.col("i").cast("long")).alias("files_with_institution_tag"),
        F.sum((F.col("a") & F.col("i")).cast("long")).alias("files_with_both_tags"),
        F.sum(F.col("u").cast("long")).alias("files_with_ul_authors"),
    )
