"""Native (JVM-side, codegen'd) column expressions — the hot path.

Each helper maps one scalar function from SURVEY.md §2.8 to pure
``pyspark.sql.functions`` so Catalyst keeps it inside whole-stage codegen.
Reference citations inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F3 — OAI URL -> base URL suffix strip, first-match-wins, single strip
# (get_journal_base_urls_from_pkp_beacon_file.py:22-36). Order matters:
# longest suffix first, exactly one strip.
OAI_SUFFIXES = ["/journal/index.php/index/oai", "/index.php/index/oai", "/oai"]


def strip_oai_suffix(url: Column) -> Column:
    expr = None
    for s in OAI_SUFFIXES:
        cond = url.endswith(s)
        stripped = url.substr(F.lit(1), F.length(url) - F.lit(len(s)))
        expr = F.when(cond, stripped) if expr is None else expr.when(cond, stripped)
    return expr.otherwise(url)


# F4 — URL key (scheme, host, port-or-known-default): the semi-join key of
# main.rs:239-243 (Url::parse + port_or_known_default).
def url_key(url: Column) -> Column:
    proto = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    # parse_url has no PORT part; extract from authority with regex.
    port_s = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*?:(\d+)(?:[/?#]|$)", 1)
    port = F.coalesce(
        F.nullif(port_s, F.lit("")).cast("int"),
        F.when(proto == "https", F.lit(443)).when(proto == "http", F.lit(80)),
    )
    return F.when(
        host.isNotNull() & (host != ""),
        F.concat_ws("|", proto, host, port.cast("string")),
    )


# F5 — DOI prefix via regex after URL-unquote (parse_record_data_from_files.py:29,105-113)
def doi_prefix_regex(doi: Column) -> Column:
    return F.nullif(
        F.regexp_extract(
            F.url_decode(doi), r"^(?:https?://doi\.org/)?(10\.[0-9]+)(?:/.*)?$", 1
        ),
        F.lit(""),
    )


# F6 — DOI prefix, rfind variant with `_unknown_` null partition
# (main.rs:289-315,714-719)
def doi_prefix_or_unknown(doi: Column) -> Column:
    return F.coalesce(doi_prefix_regex(doi), F.lit("_unknown_"))


# F7 — DOI cleaning: strip leading 'https://doi.org/' or 'doi:'
# (check_landing_page...py:93-98)
def clean_doi(doi: Column) -> Column:
    return F.regexp_replace(F.trim(doi), r"^(https://doi\.org/|doi:)", "")


# F8 — urlsafe base64 encode/decode with padding repair
# (retrieve_landing_pages.py:125-128; parse_landing_page_html.py:38-48)
def doi_to_filename(doi: Column) -> Column:
    b64 = F.base64(doi.cast("binary"))
    return F.translate(F.regexp_replace(b64, r"[\r\n=]+", ""), "+/", "-_")


def filename_to_doi(name: Column) -> Column:
    std = F.translate(name, "-_", "+/")
    pad = (F.lit(4) - F.length(std) % 4) % 4
    padded = F.concat(std, F.repeat(F.lit("="), pad))
    return F.unbase64(padded).cast("string")


# F9 — epoch-ms -> 'yyyyMMddHHmmss' UTC with sanity range
# (parse_record_data_from_files.py:150-169)
def epoch_ms_to_compact_utc(ms: Column) -> Column:
    ts = F.timestamp_millis(ms)
    ok = F.year(ts).between(F.lit(1970), F.year(F.current_date()) + F.lit(5))
    return F.when(ok, F.date_format(ts, "yyyyMMddHHmmss"))


# P8 — content-type predicate (retrieve_landing_pages.py:56-63,
# retrieve_pkp_work_url_download_pdf.py:40-44): substring match on the
# lowercased header, so 'text/html; charset=utf-8' passes 'text/html'.
def content_type_is(ct: Column, wanted: str) -> Column:
    return F.coalesce(F.lower(ct), F.lit("")).contains(wanted.lower())


# F18 — filename sanitize (retrieve_landing_pages.py:31-36)
def sanitize_filename(s: Column) -> Column:
    x = F.regexp_replace(s, "/", "_")
    x = F.regexp_replace(x, r"[^\w\-.]", "_")
    return F.when(x.startswith("."), F.concat(F.lit("_"), x)).otherwise(x)


# F19 — OpenAlex work-id -> W-number (retrieve_pkp_work_url_download_pdf.py:67-76)
def openalex_wid(openalex_id: Column) -> Column:
    return F.nullif(F.regexp_extract(openalex_id, r"/(W\d+)$", 1), F.lit(""))


# ASCII-only normalize (the 3 native steps of F1; ascii-fold happens in the
# pandas UDF first — composition norm = native_norm(ascii_fold(x)) keeps
# everything but transliteration JVM-side).
def norm_ascii(s: Column) -> Column:
    x = F.lower(s)
    x = F.regexp_replace(x, r"[^a-z0-9\s]", "")
    x = F.regexp_replace(x, r"\s+", " ")
    return F.trim(x)


# P9 — URL validity with scheme repair (parse_record_data_from_files.py:84-102)
def repair_url(u: Column) -> Column:
    host = F.try_parse_url(u, F.lit("HOST"))
    repaired = F.concat(F.lit("http://"), u)
    host2 = F.try_parse_url(repaired, F.lit("HOST"))
    return (
        F.when(host.isNotNull() & (host != ""), u)
        .when(host2.isNotNull() & (host2 != ""), repaired)
    )


def registrable_domain(url: Column) -> Column:
    """Publisher-domain blocking key: host minus common 'www.' prefix."""
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    return F.regexp_replace(host, r"^www\.", "")


def normalize_issn(issn: Column) -> Column:
    """ISSN blocking key: strip non-alnum, upper (X check digit), 8 chars or null."""
    x = F.upper(F.regexp_replace(issn, r"[^0-9Xx]", ""))
    return F.when(F.length(x) == 8, x)


def issn_check_valid(issn8: Column) -> Column:
    """ISO 3297 check-digit validation over a normalized 8-char ISSN.

    sum(d_i * (8 - i)) for the first 7 digits, check = (11 - sum mod 11)
    mod 11, rendered 'X' for 10. A blocking key built from an ISSN that
    fails its own checksum is a typo, not an identifier — pairing on it
    manufactures candidate garbage, so the extractor can route invalid
    ISSNs to the title/domain families instead. Null-safe: null/short
    input yields null (unknown), never false.
    """
    digits = [F.substring(issn8, i + 1, 1).cast("int") for i in range(7)]
    total = sum(
        (d * F.lit(8 - i) for i, d in enumerate(digits)), F.lit(0)
    )
    check = (F.lit(11) - total % 11) % 11
    expected = F.when(check == 10, F.lit("X")).otherwise(check.cast("string"))
    return F.when(
        issn8.isNotNull() & (F.length(issn8) == 8)
        & issn8.rlike(r"^[0-9]{7}[0-9X]$"),
        F.substring(issn8, 8, 1) == expected,
    )


# --- PII masking (training-data hygiene; conservative lookaround-free
# patterns so Java regex (Spark) and RE2 (DuckDB oracle / pyarrow) agree) --
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ \t\n\r\f]+"


def redact_pii(text: Column) -> Column:
    """Mask emails then URLs with typed placeholders — the standard
    pretraining scrub. Email pass runs first (the placeholder contains no
    URL-shaped text, so the passes cannot interfere); counts for lineage
    come from :func:`pii_counts` over the ORIGINAL column."""
    x = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(x, URL_RE, "<URL>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_urls) match counts in the original text."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(text, F.lit(URL_RE), 0)),
    )
