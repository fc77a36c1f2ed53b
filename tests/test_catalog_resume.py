"""Resume tests (SURVEY.md §5.6): committed-checkpoint restart produces
identical output; uncommitted stages recompute; anti-join resume."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
    Catalog,
    run_stage,
)


def test_commit_and_read_roundtrip(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    cat.write_committed(df, "t1")
    got = cat.read_committed(spark, "t1")
    assert got.count() == 100
    assert {r["id"]: r["x"] for r in got.collect()} == {i: 2 * i for i in range(100)}


def test_uncommitted_is_invisible(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    # simulate a crash mid-write: data dir exists, no _COMMIT marker
    ddir = tmp_path / "cat" / "t2" / "data"
    os.makedirs(ddir)
    spark.range(5).write.mode("overwrite").parquet(str(ddir))
    assert cat.read_committed(spark, "t2") is None


def test_resume_filter_anti_join(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    done = spark.range(50).select(F.col("id").alias("doc_id"))
    cat.write_committed(done, "stage_out")
    inputs = spark.range(80).select(F.col("id").alias("doc_id"))
    todo = cat.resume_filter(spark, inputs, "stage_out", "doc_id")
    assert sorted(r["doc_id"] for r in todo.collect()) == list(range(50, 80))


def test_run_stage_skips_committed_and_restart_is_identical(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumn("y", F.col("id") + 1)

    first = run_stage(cat, spark, "s1", build)
    again = run_stage(cat, spark, "s1", build)  # restart: must not rebuild
    assert calls["n"] == 1
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, again.collect()))


def test_run_stage_recomputes_after_crash(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    run_stage(cat, spark, "s2", build)
    # crash simulation: remove the marker but keep data
    os.remove(cat._marker("s2"))
    run_stage(cat, spark, "s2", build)
    assert calls["n"] == 2


def test_resume_semantics_partitioned_stage(spark, tmp_path):
    """The resume contract on a hive-partitioned stage: skip-when-committed,
    anti-join remainder, drop -> rebuild."""
    cat = Catalog(str(tmp_path / "cat"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(40).select(
            F.col("id").alias("doc_id"), (F.col("id") % 4).alias("part")
        )

    first = run_stage(cat, spark, "stage", build, partition_by=["part"])
    again = run_stage(cat, spark, "stage", build, partition_by=["part"])
    assert calls["n"] == 1  # committed stage never rebuilds
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, again.collect()))
    assert cat.is_committed("stage")

    inputs = spark.range(60).select(F.col("id").alias("doc_id"))
    todo = cat.resume_filter(spark, inputs, "stage", "doc_id")
    assert sorted(r["doc_id"] for r in todo.collect()) == list(range(40, 60))

    cat.drop("stage")
    assert not cat.is_committed("stage")
    assert cat.read_committed(spark, "stage") is None
    run_stage(cat, spark, "stage", build, partition_by=["part"])
    assert calls["n"] == 2  # dropped -> rebuilt


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    """Small-files compaction: same rows, same committed contract, fewer
    part files."""
    import glob

    cat = Catalog(str(tmp_path / "cmp"))
    df = spark.range(0, 1000).repartition(16).selectExpr(
        "cast(id as string) as doc_id", "id % 7 as v"
    )
    cat.write_committed(df, "t")
    before = sorted(
        (r["doc_id"], r["v"]) for r in cat.read_committed(spark, "t").collect()
    )
    data_glob = str(tmp_path / "cmp" / "t" / "data" / "part-*")
    n_before = len(glob.glob(data_glob))
    assert n_before >= 8
    cat.compact(spark, "t", 2)
    assert cat.is_committed("t")
    after = sorted(
        (r["doc_id"], r["v"]) for r in cat.read_committed(spark, "t").collect()
    )
    assert before == after
    assert len(glob.glob(data_glob)) <= 2
    cat.drop("t")


def test_append_committed_batches(spark, tmp_path):
    """Append-style commits: O(batch) IO, marker-gated visibility, and
    batch-replace idempotence on replay."""
    import pytest

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "app"))
    base = spark.range(0, 10).selectExpr("cast(id as string) as doc_id")
    with pytest.raises(ValueError, match="base commit"):
        cat.append_committed(base, "t", "b1")
    cat.write_committed(base, "t")
    b1 = spark.range(10, 15).selectExpr("cast(id as string) as doc_id")
    cat.append_committed(b1, "t", "b1")
    assert cat.read_committed(spark, "t").count() == 15
    # replaying the same batch id REPLACES, never duplicates
    cat.append_committed(b1, "t", "b1")
    assert cat.read_committed(spark, "t").count() == 15
    b2 = spark.range(15, 18).selectExpr("cast(id as string) as doc_id")
    cat.append_committed(b2, "t", "b2")
    got = sorted(int(r["doc_id"]) for r in cat.read_committed(spark, "t").collect())
    assert got == list(range(18))
    # a full rewrite supersedes all batches
    cat.write_committed(base, "t")
    assert cat.read_committed(spark, "t").count() == 10
    cat.drop("t")


def test_append_schema_guard_and_compact_folds_batches(spark, tmp_path):
    import glob

    import pytest

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "fold"))
    base = spark.range(0, 100).selectExpr("cast(id as string) as doc_id")
    cat.write_committed(base, "t")
    with pytest.raises(ValueError, match="mismatched columns"):
        cat.append_committed(
            spark.range(3).selectExpr("id as other_col"), "t", "bad"
        )
    for i in range(3):
        cat.append_committed(
            spark.range(100 + 10 * i, 110 + 10 * i).selectExpr(
                "cast(id as string) as doc_id"
            ),
            "t", f"b{i}",
        )
    assert cat.read_committed(spark, "t").count() == 130
    assert len(glob.glob(str(tmp_path / "fold" / "t" / "batch_*"))) == 3
    # compaction folds the batches back into one base
    cat.compact(spark, "t", 2)
    assert len(glob.glob(str(tmp_path / "fold" / "t" / "batch_*"))) == 0
    assert cat.read_committed(spark, "t").count() == 130
    cat.drop("t")


def test_replay_of_compacted_batch_is_noop(spark, tmp_path):
    """ADVICE r4: compact() must not break idempotent replay. A crash-replay
    of a batch_id whose rows were folded into the compacted base is a
    replace-nothing no-op, never a duplicate append; a genuinely NEW batch id
    still appends, and a second compaction keeps the ledger cumulative."""
    import glob

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    cat = Catalog(str(tmp_path / "replay"))
    base = spark.range(0, 50).selectExpr("cast(id as string) as doc_id")
    cat.write_committed(base, "t")
    batch = spark.range(50, 60).selectExpr("cast(id as string) as doc_id")
    cat.append_committed(batch, "t", "day1")
    assert cat.read_committed(spark, "t").count() == 60
    cat.compact(spark, "t", 1)
    assert cat._read_marker("t")["compacted_batches"] == ["day1"]
    # crash-replay of the folded batch: no-op, no duplicate rows, no dir
    cat.append_committed(batch, "t", "day1")
    assert cat.read_committed(spark, "t").count() == 60
    assert glob.glob(str(tmp_path / "replay" / "t" / "batch_*")) == []
    # a new batch id still appends normally
    cat.append_committed(
        spark.range(60, 65).selectExpr("cast(id as string) as doc_id"), "t", "day2"
    )
    assert cat.read_committed(spark, "t").count() == 65
    # second compaction: ledger is cumulative across compactions
    cat.compact(spark, "t", 1)
    assert cat._read_marker("t")["compacted_batches"] == ["day1", "day2"]
    cat.append_committed(batch, "t", "day1")
    cat.append_committed(
        spark.range(60, 65).selectExpr("cast(id as string) as doc_id"), "t", "day2"
    )
    assert cat.read_committed(spark, "t").count() == 65
    # a FULL rewrite resets the ledger (new base owes nothing to old batches)
    cat.write_committed(base, "t")
    assert cat._read_marker("t")["compacted_batches"] == []
    cat.append_committed(batch, "t", "day1")
    assert cat.read_committed(spark, "t").count() == 60
    cat.drop("t")


def test_compact_preserves_partition_layout_and_meta(spark, tmp_path):
    """ADVICE r3: compacting a hive-partitioned table must republish it with
    the SAME partition_by (pruning survives) and the same marker meta."""
    import glob

    cat = Catalog(str(tmp_path / "cpp"))
    df = spark.range(0, 200).repartition(8).selectExpr(
        "cast(id as string) as doc_id", "id % 3 as shard", "id * 2 as v"
    )
    cat.write_committed(df, "t", partition_by=["shard"], meta={"stage": "scored"})
    before = sorted(
        (r["doc_id"], r["shard"], r["v"])
        for r in cat.read_committed(spark, "t").collect()
    )
    cat.compact(spark, "t", 1)
    part_dirs = glob.glob(str(tmp_path / "cpp" / "t" / "data" / "shard=*"))
    assert sorted(os.path.basename(p) for p in part_dirs) == [
        "shard=0", "shard=1", "shard=2",
    ]
    after = sorted(
        (r["doc_id"], r["shard"], r["v"])
        for r in cat.read_committed(spark, "t").collect()
    )
    assert before == after
    assert cat._read_marker("t")["meta"] == {"stage": "scored"}
    assert cat._read_marker("t")["partition_by"] == ["shard"]
    cat.drop("t")


def test_stale_staging_dirs_swept_on_next_write(spark, tmp_path):
    """ADVICE r3: _staging_* dirs orphaned by a crash between the staging
    write and os.replace are cleaned up by the next write/append."""
    cat = Catalog(str(tmp_path / "sweep"))
    df = spark.range(10).selectExpr("cast(id as string) as doc_id")
    cat.write_committed(df, "t")
    tdir = tmp_path / "sweep" / "t"
    # simulate two crashed writers
    for tok in ("deadbeef", "cafebabe"):
        d = tdir / f"_staging_{tok}"
        os.makedirs(d)
        (d / "part-orphan.parquet").write_bytes(b"junk")
    assert len(list(tdir.glob("_staging_*"))) == 2
    cat.write_committed(df, "t")
    assert list(tdir.glob("_staging_*")) == []
    # append path sweeps too
    d = tdir / "_staging_00000000"
    os.makedirs(d)
    cat.append_committed(
        spark.range(10, 12).selectExpr("cast(id as string) as doc_id"), "t", "b1"
    )
    assert list(tdir.glob("_staging_*")) == []
    assert cat.read_committed(spark, "t").count() == 12
