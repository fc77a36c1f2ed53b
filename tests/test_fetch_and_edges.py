"""Tests for the S9/S10 batch fetcher skeleton, the P8 content-type
predicate, the O2 deterministic file order helper, catalog crash-atomicity,
and the multimodal duplicate-media_ref fix."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import native
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import fetch


# --- fetch kernel (pure, no Spark) ------------------------------------------


def _scripted_transport(script):
    """script: url -> list of responses/exceptions, consumed in order."""
    state = {u: list(rs) for u, rs in script.items()}

    def transport(url):
        r = state[url].pop(0)
        if isinstance(r, Exception):
            raise r
        return r

    return transport


def test_fetch_retry_backoff_series():
    sleeps = []
    t = _scripted_transport({
        "u": [fetch.TransientError("timeout"), (503, "", ""),
              fetch.TransientError("conn"), (200, "text/html; charset=utf-8", "<html>ok")],
    })
    status, detail, ctype, body, n = fetch.fetch_once_with_retry(
        "u", t, "text/html", sleep=sleeps.append
    )
    assert status == "fetched" and body == "<html>ok" and n == 4
    assert ctype == "text/html; charset=utf-8"
    # reference backoff: 2.0 * 2**(retry-1) for retries 1,2,3
    assert sleeps == [2.0, 4.0, 8.0]


def test_fetch_gives_up_after_max_retries():
    sleeps = []
    t = _scripted_transport({"u": [fetch.TransientError("t")] * 10})
    status, detail, *_, n = fetch.fetch_once_with_retry(
        "u", t, "text/html", sleep=sleeps.append
    )
    assert status == "failed" and "Max retries exceeded" in detail and n == 4
    assert len(sleeps) == 3


def test_fetch_4xx_fails_immediately_no_sleep():
    sleeps = []
    t = _scripted_transport({"u": [(404, "text/html", "nope")]})
    status, detail, *_ , n = fetch.fetch_once_with_retry(
        "u", t, "text/html", sleep=sleeps.append
    )
    assert status == "failed" and "404" in detail and n == 1 and sleeps == []


def test_fetch_content_type_gate():
    t = _scripted_transport({"u": [(200, "application/pdf", "%PDF")]})
    status, detail, ctype, body, _ = fetch.fetch_once_with_retry(
        "u", t, "text/html", sleep=lambda s: None
    )
    assert status == "skipped" and "not text/html" in detail and body == ""


def test_fetch_urls_distributed(spark):
    urls = [f"https://host{i % 3}.example.org/p/{i}" for i in range(12)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")

    def transport(url):
        if url.endswith("/5"):
            return (200, "application/pdf", "binary")
        if url.endswith("/7"):
            return (404, "", "")
        return (200, "text/html", f"<html>{url}")

    out = fetch.fetch_urls(
        df, transport=transport, n_partitions=4, sleep=lambda s: None
    ).collect()
    by = {r["url"]: r for r in out}
    assert len(by) == 12
    assert sum(r["status"] == "fetched" for r in out) == 10
    assert by[[u for u in urls if u.endswith("/5")][0]]["status"] == "skipped"
    assert by[[u for u in urls if u.endswith("/7")][0]]["status"] == "failed"
    fetched = [r for r in out if r["status"] == "fetched"]
    assert all(r["body"].startswith("<html>") for r in fetched)


# --- P8 predicate -------------------------------------------------------------


def test_content_type_predicate(spark):
    df = spark.createDataFrame(
        [("text/html; charset=UTF-8",), ("TEXT/HTML",), ("application/pdf",), (None,)],
        "ct string",
    )
    got = [r[0] for r in df.select(native.content_type_is(F.col("ct"), "text/html")).collect()]
    assert got == [True, True, False, False]


# --- O2 deterministic file order ----------------------------------------------


def test_deterministic_file_order(spark, tmp_path):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.readers import (
        with_deterministic_file_order,
    )

    for name, val in [("c.txt", "3"), ("a.txt", "1"), ("b.txt", "2")]:
        (tmp_path / name).write_text(val)
    df = spark.read.option("wholetext", True).text(str(tmp_path))
    rows = with_deterministic_file_order(df).collect()
    files = [os.path.basename(r["_input_file"]) for r in rows]
    assert files == sorted(files)
    assert [r["value"] for r in rows] == ["1", "2", "3"]


# --- catalog crash-atomicity ---------------------------------------------------


def test_catalog_overwrite_never_committed_without_data(spark, tmp_path, monkeypatch):
    """Simulate a crash between old-data removal and new-data publish during
    an overwrite: the table must NOT be committed afterwards."""
    import shutil as _shutil

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(5)
    cat.write_committed(df, "t")
    assert cat.is_committed("t") and cat.read_committed(spark, "t").count() == 5

    real_rmtree = _shutil.rmtree
    calls = {"n": 0}

    def crashing_rmtree(path, *a, **k):
        calls["n"] += 1
        real_rmtree(path, *a, **k)
        raise RuntimeError("simulated crash right after old data removal")

    monkeypatch.setattr(
        "reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog.shutil.rmtree",
        crashing_rmtree,
    )
    try:
        cat.write_committed(spark.range(9), "t")
    except RuntimeError:
        pass
    assert calls["n"] == 1
    # marker was removed BEFORE data: resume recomputes instead of reading junk
    assert not cat.is_committed("t")
    assert cat.read_committed(spark, "t") is None

    monkeypatch.undo()
    cat.write_committed(spark.range(9), "t")
    assert cat.read_committed(spark, "t").count() == 9


# --- multimodal duplicate media_ref --------------------------------------------


def test_attach_extracted_text_duplicate_media_ref(spark):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.multimodal import (
        attach_extracted_text,
        fake_decode,
    )

    docs = spark.createDataFrame(
        [(
            "d1",
            [
                ("media", "", "img://d1/1", 0),
                ("text", "hello", "", 1),
                ("media", "", "img://d1/1", 2),  # same media_ref twice
            ],
        )],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = attach_extracted_text(docs).collect()
    spans = out[0]["spans"]
    want = fake_decode("img://d1/1")
    assert spans[0]["text"] == want and spans[2]["text"] == want
    assert spans[1]["text"] == "hello"


# --- S6 one-file-per-record sink -----------------------------------------------


def test_sanitize_prefix_reference_parity():
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.sinks import (
        sanitize_prefix,
    )

    assert sanitize_prefix("10.1234/abc") == "10.1234_abc"
    assert sanitize_prefix("we?ird name") == "we_ird_name"
    assert sanitize_prefix(".hidden") == "_.hidden"
    assert sanitize_prefix("...") == "_..."
    assert sanitize_prefix("") == "unknown_sanitized_prefix"


def test_write_one_file_per_record(spark, tmp_path):
    import base64 as b64

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.sinks import (
        write_one_file_per_record,
    )

    rows = [
        ("m1", "10.1", "10.1/a", "<html>A</html>"),
        ("m1", "10.1", "10.1/b", "<html>B</html>"),
        ("m2", "we?ird", "10.2/c", "<html>C</html>"),
    ]
    df = spark.createDataFrame(rows, "member_id string, prefix string, doi string, body string")
    out = write_one_file_per_record(df, str(tmp_path))
    written = {r["doi"]: r for r in out.collect()}
    assert len(written) == 3
    p = written["10.1/a"]["path"]
    assert p.endswith(b64.urlsafe_b64encode(b"10.1/a").decode() + ".html")
    assert "/m1/10.1/" in p.replace(str(tmp_path), "")
    with open(p) as f:
        assert f.read() == "<html>A</html>"
    assert written["10.2/c"]["path"].count("we_ird") == 1
    # resume shape: written paths join back as the done-set (S12)
    assert out.select("doi").distinct().count() == 3


def test_record_path_member_id_traversal_blocked(tmp_path):
    """ADVICE r2: member_id is attacker-adjacent input; '../../x' must not
    escape out_dir (executors write these paths directly)."""
    import os

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.sinks import (
        record_path,
    )

    out = str(tmp_path / "out")
    p = record_path(out, "../../evil", "10.1234", "10.1234/x")
    assert os.path.commonpath([out, os.path.normpath(p)]) == out
    # normal ids unchanged
    assert f"{os.sep}4460{os.sep}" in record_path(out, "4460", "10.1234", "d")
