"""Tests: per-partition lineage rows and the Trigger.AvailableNow
incremental mode (exactly-once restart)."""

from __future__ import annotations


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
