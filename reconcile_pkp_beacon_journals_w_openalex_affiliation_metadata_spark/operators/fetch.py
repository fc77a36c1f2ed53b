"""Distributed batch fetcher — the S9/S10 pattern (declared out-of-engine in
SURVEY, provided here as the promised mapInPandas skeleton).

Reference semantics re-expressed (retrieve_landing_pages.py:38-91,112-115;
retrieve_pkp_work_url_download_pdf.py:31-76):

- retry policy: Timeout/ConnectionError and HTTP 5xx retry up to
  ``MAX_RETRIES`` with exponential backoff
  ``BACKOFF_FACTOR * 2**(attempt-1)``;
  other HTTP errors fail immediately with the status in the message.
- content-type gate (P8): a 200 response whose Content-Type does not
  contain the wanted type is routed to status='skipped' (py:57-63).
- per-domain politeness: the reference serializes same-domain requests with
  an Arc<Mutex> per domain and a 0.1 s delay (py:112-115). Distributed
  analog: repartition by domain so one task owns a domain, then iterate
  that partition sequentially (no delay between same-domain hits).

The HTTP transport is INJECTABLE and the default raises — this sandbox has
no network; tests inject a deterministic fake. The operator's Spark shape
(repartition -> mapInPandas -> status routing) is the real, tested part.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_RETRIES = 3
BACKOFF_FACTOR = 2.0

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),       # fetched|skipped|failed
        T.StructField("detail", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("n_attempts", T.IntegerType()),
    ]
)


def default_transport(url: str) -> tuple[int, str, str]:
    """(status_code, content_type, body). No network in this sandbox."""
    raise NotImplementedError(
        "no HTTP transport in this environment; inject one (tests use a fake)"
    )


class TransientError(Exception):
    """Timeout / connection reset — retryable, like requests' Timeout and
    ConnectionError in the reference."""


def fetch_once_with_retry(
    url: str,
    transport: Callable[[str], tuple[int, str, str]],
    wanted_type: str,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[str, str, str, str, int]:
    """-> (status, detail, content_type, body, n_attempts). Pure kernel;
    mirrors fetch_html_with_retry (py:38-91) including the backoff series."""
    attempts = 0
    while attempts <= MAX_RETRIES:
        attempts += 1
        try:
            code, ctype, body = transport(url)
        except TransientError as e:
            if attempts > MAX_RETRIES:
                return ("failed", f"Error: Max retries exceeded ({type(e).__name__})",
                        "", "", attempts)
            sleep(BACKOFF_FACTOR * (2 ** (attempts - 1)))
            continue
        ctype_l = (ctype or "").lower()
        if 200 <= code < 300:
            if wanted_type in ctype_l:
                return ("fetched", "", ctype_l, body, attempts)
            return ("skipped",
                    f"Skipped - Content-Type is not {wanted_type} ({ctype_l})",
                    ctype_l, "", attempts)
        if 500 <= code < 600:
            if attempts > MAX_RETRIES:
                return ("failed", f"Error: Max retries exceeded ({code})", "", "",
                        attempts)
            sleep(BACKOFF_FACTOR * (2 ** (attempts - 1)))
            continue
        return ("failed", f"Error: HTTP Error: {code}", "", "", attempts)
    return ("failed", "Error: Unknown error after retries", "", "", attempts)


def fetch_urls(
    urls: DataFrame,
    transport: Callable[[str], tuple[int, str, str]] = default_transport,
    n_partitions: int | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> DataFrame:
    """Distributed fetch of the ``url`` column's text/html pages with
    per-domain politeness.

    Plan shape: repartition(domain) -> mapInPandas (sequential within a
    partition) -> one row per URL with routed status. At cluster scale the repartition bounds each
    domain to one task — the reference's per-domain mutex without a lock."""
    from ..functions import native

    keyed = urls.withColumn("_domain", native.registrable_domain(F.col("url")))
    keyed = keyed.repartition(
        *([n_partitions] if n_partitions else []), "_domain"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                status, detail, ctype, body, n = fetch_once_with_retry(
                    url, transport, "text/html", sleep
                )
                rows.append((url, status, detail, ctype, body, n))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FETCH_SCHEMA.fields]
            )

    return keyed.mapInPandas(run, schema=FETCH_SCHEMA)
