"""Tests: observe() counters (audit-sum discipline), per-partition lineage
rows, and the Trigger.AvailableNow incremental mode (exactly-once restart)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_observe_counts_audit_sum(spark):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.lineage import (
        observe_counts,
    )

    df = spark.range(100).withColumn("v", F.col("id") % 10)
    observed, obs = observe_counts(
        df, "stage_x",
        {"small": F.col("v") < 3, "large": F.col("v") >= 3},
    )
    observed.collect()
    got = obs.get
    # filter-reason buckets must sum to rows read (main.rs:86-144 discipline)
    assert got["rows_total"] == 100
    assert got["small"] + got["large"] == got["rows_total"]
    assert got["small"] == 30


def test_partition_metrics_rows(spark):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.lineage import (
        partition_metrics,
    )

    df = spark.range(1000).repartition(4)
    rows = partition_metrics(df, "run1", "extract").collect()
    assert sum(r["value"] for r in rows) == 1000
    assert {r["stage"] for r in rows} == {"extract"}
    assert all(r["run_id"] == "run1" for r in rows)


def test_incremental_available_now_exactly_once(spark, tmp_path, corpus_dfs):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.incremental import (
        incremental_documents,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out: list[int] = []

    docs = corpus_dfs["documents"]
    docs.limit(40).write.mode("overwrite").parquet(in_dir)

    def batch_fn(bdf, bid):
        out.append(bdf.count())

    incremental_documents(spark, in_dir, ckpt, batch_fn)
    first_total = sum(out)
    assert first_total == 40

    # restart with no new files: checkpoint must prevent reprocessing
    incremental_documents(spark, in_dir, ckpt, batch_fn)
    assert sum(out) == first_total

    # add new files: only the delta is processed
    docs.orderBy("doc_id").limit(60).write.mode("overwrite").parquet(str(tmp_path / "more"))
    import shutil
    import glob
    import os

    for i, f in enumerate(glob.glob(str(tmp_path / "more" / "*.parquet"))):
        shutil.copy(f, os.path.join(in_dir, f"extra_{i}.parquet"))
    incremental_documents(spark, in_dir, ckpt, batch_fn)
    assert sum(out) == first_total + 60


def test_first_seen_stream_dedups_across_microbatches(spark, tmp_path):
    """applyInPandasWithState per-key state survives micro-batch boundaries:
    a key that appeared in batch 1 is suppressed in batch 2."""
    import json

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.stateful import (
        first_seen_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    # two files -> two micro-batches (maxFilesPerTrigger=1); key k1 repeats
    # within batch 1 AND across batches; k2 only in batch 2
    write_file("a.json", [
        {"content_key": "k1", "doc_id": 1},
        {"content_key": "k1", "doc_id": 2},
    ])
    write_file("b.json", [
        {"content_key": "k1", "doc_id": 3},
        {"content_key": "k2", "doc_id": 4},
    ])

    stream = (
        spark.readStream.schema("content_key string, doc_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    deduped = first_seen_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen_t")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from first_seen_t").collect()
    by_key = {r["content_key"]: r for r in rows}
    assert set(by_key) == {"k1", "k2"}
    assert len(rows) == 2  # k1 emitted exactly once despite 3 occurrences


def test_windowed_counts_watermark_drops_late(spark, tmp_path):
    """Two AvailableNow runs over one checkpoint: the watermark persists
    across runs, so run 2's too-late event is dropped while its in-time
    event advances the stream; finalized windows emit exactly once."""
    import json

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.windowed import (
        windowed_event_counts,
    )

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    def run_once(name):
        got = []
        stream = spark.readStream.schema("ts timestamp, value long").json(str(src))
        agg = windowed_event_counts(stream, key_col=None)
        q = (
            agg.writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return got

    def ev(sec, val):
        return {"ts": f"2026-01-01T00:{sec // 60:02d}:{sec % 60:02d}", "value": val}

    # run 1: events at t=5, 15, 95 -> watermark after run = 95s - 30s = 65s
    (src / "a.json").write_text("\n".join(json.dumps(e) for e in [
        ev(5, 1), ev(15, 2), ev(95, 3)]))
    r1 = run_once("win_r1")
    done1 = {(r["window"].start.second + r["window"].start.minute * 60, r["n"], r["sum_value"])
             for r in r1}
    # windows [0,10) and [10,20) are below the 65s watermark -> finalized
    assert (0, 1, 1) in done1 and (10, 1, 2) in done1
    assert all(w < 65 for (w, _, _) in done1)

    # run 2: t=12 is >30s behind the persisted watermark -> dropped;
    # t=130 advances the watermark to 100s -> [90,100) finalizes with ONLY
    # the original t=95 event (the late t=12 must not resurrect [10,20))
    (src / "b.json").write_text("\n".join(json.dumps(e) for e in [
        ev(12, 100), ev(130, 4)]))
    r2 = run_once("win_r2")
    new = {(r["window"].start.second + r["window"].start.minute * 60, r["n"], r["sum_value"])
           for r in r2} - done1
    assert (90, 1, 3) in new
    assert all(w != 10 for (w, _, _) in new), "late event resurrected a closed window"


def test_sessionize_stream_matches_batch_sessions(spark, tmp_path):
    """Streaming sessionization (stateful, cross-batch) must produce exactly
    the sessions the batch lag+cumsum computation (query t9's shape) yields,
    once every real session is closed by a flush event beyond the gap."""
    import json

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.sessionize import (
        sessionize_stream,
    )

    base = 1_700_000_000  # epoch seconds
    # user 10: two sessions split by a 2000 s gap, session 1 spans batches;
    # user 20: one session, plus an in-session straggler arriving in batch 2
    ev = {
        "a.json": [
            (10, base + 0), (10, base + 60),
            (20, base + 5), (20, base + 400),
        ],
        "b.json": [
            (10, base + 120),            # continues session 1 cross-batch
            (10, base + 120 + 2000),     # gap > 1800 -> closes session 1
            (20, base + 200),            # straggler: ts < last_seen
            (20, base + 700),
        ],
        # flush events: > gap beyond every user's last event, closing the
        # trailing sessions (excluded from the expected comparison)
        "z.json": [(10, base + 10_000), (20, base + 10_000)],
    }

    src = tmp_path / "in"
    src.mkdir()
    for name, rows in ev.items():
        (src / name).write_text(
            "\n".join(json.dumps({"user_id": u, "ts": t}) for u, t in rows)
        )

    stream = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", F.timestamp_seconds(F.col("ts")).alias("ts"))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("sess_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us // 1_000_000,
         r.session_end_us // 1_000_000, r.n_events)
        for r in spark.sql("SELECT * FROM sess_t").collect()
    }

    # batch expectation from the raw (non-flush) events, 30-min gap rule:
    # sessions are (user, start, end, n); the straggler ts<=last counts in
    expected = {
        (10, base + 0, base + 120, 3),
        (10, base + 2120, base + 2120, 1),
        (20, base + 5, base + 700, 4),
    }
    assert got == expected


def test_sessionize_fold_sorts_across_chunks():
    """ADVICE r3: events arriving as multiple out-of-order Arrow chunks must
    be sorted ACROSS chunks, not per chunk — per-chunk sorting would close a
    session prematurely when a later chunk carries earlier timestamps."""
    import pandas as pd

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.sessionize import (
        _fold_group,
    )

    gap_us = 1800 * 1_000_000
    base = 1_700_000_000_000_000  # us
    # chunk 1 carries LATER events than chunk 2; sorted per chunk, the
    # backward jump (<= last_us) would fold chunk 2 into a straggler count
    # instead of the correct single contiguous session
    c1 = pd.Series(pd.to_datetime([base + 3600_000_000, base + 3660_000_000], unit="us"))
    c2 = pd.Series(pd.to_datetime([base, base + 60_000_000, base + 120_000_000], unit="us"))
    closed, open_state = _fold_group(7, [c1, c2], None, gap_us)
    # one session closed at the gap (3 events), open session holds 2 events
    assert closed == [(7, base, base + 120_000_000, 3)]
    assert open_state == (base + 3600_000_000, base + 3660_000_000, 2)
    # state threading: a committed open session extends, stragglers count
    c3 = pd.Series(pd.to_datetime([base + 3661_000_000], unit="us"))
    closed2, open2 = _fold_group(7, [c3], open_state, gap_us)
    assert closed2 == []
    assert open2 == (base + 3600_000_000, base + 3661_000_000, 3)


def test_sessionize_stream_event_time_timeout_flushes_open_sessions(spark, tmp_path):
    """timeout='event_time': an OPEN session must flush once the watermark
    passes last_seen + gap, WITHOUT any closing event from that user — the
    path the no-timeout tests never exercise. User 10 goes quiet after two
    events; user 20 keeps emitting, advancing the watermark past 10's
    gap boundary, which must emit 10's session while 20's stays open."""
    import json

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.sessionize import (
        sessionize_stream,
    )

    base = 1_700_000_000
    ev = {
        # batch 1: both users active
        "a.json": [(10, base + 0), (10, base + 60), (20, base + 10)],
        # batch 2: ONLY user 20 — its event time pushes the watermark far
        # past 10's last_seen + gap (1800 s), so 10's session times out
        "b.json": [(20, base + 10_000)],
        # batch 3: another 20-only tick so the timeout fires in a trigger
        # AFTER the watermark has advanced (watermark updates post-batch)
        "c.json": [(20, base + 10_060)],
    }
    src = tmp_path / "in_et"
    src.mkdir()
    for name, rows in ev.items():
        (src / name).write_text(
            "\n".join(json.dumps({"user_id": u, "ts": t}) for u, t in rows)
        )

    stream = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", F.timestamp_seconds(F.col("ts")).alias("ts"))
        .withWatermark("ts", "0 seconds")
    )
    q = (
        sessionize_stream(stream, timeout="event_time")
        .writeStream.format("memory").queryName("sess_et")
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start_us // 1_000_000,
         r.session_end_us // 1_000_000, r.n_events)
        for r in spark.sql("SELECT * FROM sess_et").collect()
    }
    # user 10's open session flushed by the watermark alone; user 20's two
    # sessions: the first closed by its own 10_000-gap event, the trailing
    # one still open (absent — never flushed, watermark never passes it)
    assert got == {
        (10, base + 0, base + 60, 2),
        (20, base + 10, base + 10, 1),
    }
