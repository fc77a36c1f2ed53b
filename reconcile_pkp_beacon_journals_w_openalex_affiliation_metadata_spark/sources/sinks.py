"""One-file-per-record sink (SURVEY S6).

The reference writes each fetched landing page to
``{base}/{member_id}/{sanitized_prefix}/{urlsafe_b64(doi)}.html``
(retrieve_landing_pages.py:118-135). Re-expressed as a mapInPandas sink:
executors write their partition's rows directly (one task = one writer, no
driver funnel), and the returned DataFrame of written paths is the audit
trail — counting it is the action that drives the write, and it doubles as
the resume key set (S12 anti-join input).

At cluster scale ``out_dir`` is an object-store prefix; repartition by
``member_id`` first if per-directory write locality matters.
"""

from __future__ import annotations

import base64
import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SAN_RX = re.compile(r"[^\w\-.]")


def sanitize_prefix(prefix: str) -> str:
    """retrieve_landing_pages.py:30-36, verbatim semantics."""
    p = (prefix or "").replace("/", "_")
    p = _SAN_RX.sub("_", p)
    if p.startswith(".") or (p != "" and all(c == "." for c in p)):
        p = "_" + p
    return p if p else "unknown_sanitized_prefix"


def record_path(out_dir: str, member_id: str, prefix: str, doi: str) -> str:
    name = base64.urlsafe_b64encode((doi or "").encode("utf-8")).decode("ascii")
    # member_id goes through the same sanitizer as prefix: a crafted id like
    # '../../x' would otherwise traverse out of out_dir, and executors write
    # these paths directly (the reference shares the gap; the distributed
    # writer amplifies it)
    return os.path.join(out_dir, sanitize_prefix(str(member_id)), sanitize_prefix(prefix), name + ".html")


_WRITE_SCHEMA = T.StructType(
    [
        T.StructField("doi", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def write_one_file_per_record(df: DataFrame, out_dir: str) -> DataFrame:
    """(member_id, prefix, doi, body) -> DataFrame(doi, path, n_bytes) of
    written ``.html`` files. Lazy like every
    sink-as-transformation: run an action (``.count()``) to execute."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for member, prefix, doi, content in zip(
                pdf["member_id"], pdf["prefix"], pdf["doi"], pdf["body"]
            ):
                path = record_path(out_dir, member, prefix, doi)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                data = (content or "").encode("utf-8")
                with open(path, "wb") as f:
                    f.write(data)
                rows.append((doi, path, len(data)))
            yield pd.DataFrame(rows, columns=["doi", "path", "n_bytes"])

    return df.mapInPandas(run, schema=_WRITE_SCHEMA)
