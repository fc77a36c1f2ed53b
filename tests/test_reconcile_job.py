"""spark-submit job entrypoint: end-to-end + resume identity (north_rule),
and the job's committed tables against ``plans.reconcile.reconcile``.

``python tests/test_reconcile_job.py`` rewrites the golden plan files under
``tests/golden/`` from the current tree; do that only for a change that
means to alter ``reconcile()``'s plan or persists, or x2's MinHash plan.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs.reconcile_job import (  # noqa: E402
    main,
)

GOLDEN = os.path.join(ROOT, "tests", "golden")
STAGES = ("records", "blocking_keys", "candidate_pairs", "scored", "clusters")


def test_job_runs_and_resumes_identically(spark, tmp_path):
    out = str(tmp_path / "job_out")
    main(["--synth", "300", "--output", out])
    clusters_1 = {
        (r["node"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(out, "clusters", "data")).collect()
    }
    assert clusters_1
    # restart with --resume: committed stages are reused; output identical
    main(["--synth", "300", "--output", out, "--resume"])
    clusters_2 = {
        (r["node"], r["cluster_id"])
        for r in spark.read.parquet(os.path.join(out, "clusters", "data")).collect()
    }
    assert clusters_1 == clusters_2
    # lineage rows accumulated for both runs, all stages present
    lin = spark.read.parquet(os.path.join(out, "lineage.parquet"))
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert {"extract", "blocking", "pairs", "scoring", "clustering"} <= stages


def test_job_calibrated_run_meets_f1_gate(spark, tmp_path):
    """--calibrate-synth: the job re-fits the logistic in-run and the fitted
    decisions still clear the F1 >= 0.99 gate on the ground truth."""
    from pyspark.sql import functions as F

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import (
        schemas,
        synth,
    )

    out = str(tmp_path / "job_cal_out")
    main(["--synth", "300", "--output", out, "--calibrate-synth"])
    scored = spark.read.parquet(os.path.join(out, "scored", "data"))
    corpus = synth.generate(seed=42, n_journals=300)
    labeled = spark.createDataFrame(corpus.labeled_pairs, schema=schemas.LABELED_PAIRS)
    joined = labeled.join(
        scored.select(
            "left_id", "right_id", F.col("is_match_pred").alias("pred")
        ),
        ["left_id", "right_id"],
        "left",
    ).withColumn("pred", F.coalesce(F.col("pred"), F.lit(False)))
    row = joined.agg(
        F.sum((F.col("is_match") & F.col("pred")).cast("int")).alias("tp"),
        F.sum((~F.col("is_match") & F.col("pred")).cast("int")).alias("fp"),
        F.sum((F.col("is_match") & ~F.col("pred")).cast("int")).alias("fn"),
    ).collect()[0]
    f1 = 2 * row["tp"] / (2 * row["tp"] + row["fp"] + row["fn"])
    assert f1 >= 0.99


def _mask(plan: str) -> str:
    """Expression, plan, lambda-variable and common-subexpression ids and
    the input dir vary between sessions and hosts."""
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"(lambda \w+?|_common_expr)_\d+\b", r"\1_", plan)
    return plan.replace(entry_mod.SF_DEFAULT, "<sf>")


def _query_plan(spark, name: str) -> str:
    """A registry query's formatted physical plan, before it runs."""
    df = entry_mod.queries()[name](spark, entry_mod.SF_DEFAULT)
    return _mask(
        spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    )


def _cached_plans(spark) -> list[str]:
    """Every logical plan the session's CacheManager holds, sorted."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    return sorted(_mask(seq.apply(i).plan().toString()) for i in range(seq.size()))


def _reconcile_cache_report(spark, docs) -> str:
    """The plans ``reconcile()`` leaves persisted, with and without CC."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        reconcile,
    )

    out = []
    for with_clusters in (False, True):
        spark.catalog.clearCache()
        reconcile(docs, with_clusters=with_clusters)
        plans = _cached_plans(spark)
        out.append(f"== with_clusters={with_clusters}: {len(plans)} persisted plans")
        out += plans
    spark.catalog.clearCache()
    return "\n".join(out) + "\n"


def _synth_docs(spark, n_journals: int):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import (
        schemas,
        synth,
    )

    corpus = synth.generate(seed=42, n_journals=n_journals)
    return spark.createDataFrame(corpus.documents, schema=schemas.DOCUMENTS)


def _read_golden(name: str) -> str:
    # newline="": x2's plan prints its whitespace regex with a literal \r
    with open(os.path.join(GOLDEN, name), newline="") as f:
        return f.read()


def test_job_tables_equal_reconcile(spark, tmp_path):
    """The job's catalog commits and ``reconcile()``'s persists run the same
    stage table: all five committed tables equal reconcile()'s outputs as
    multisets. x1's physical plan and the plans reconcile() persists are
    pinned to the golden files."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        reconcile,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    out = str(tmp_path / "job_diff")
    main(["--synth", "300", "--output", out])
    docs = _synth_docs(spark, 300)
    res = reconcile(docs)
    cat = Catalog(out)
    got = (res.records, res.keys, res.candidate_pairs, res.scored, res.clusters)
    for name, df in zip(STAGES, got):
        committed = cat.read_committed(spark, name)
        assert Counter(map(repr, committed.collect())) == Counter(map(repr, df.collect())), name
    res.unpersist()

    spark.catalog.clearCache()
    # x1 is reconcile() up to scored
    assert _query_plan(spark, "x1_reconcile_flagship") == _read_golden("x1_plan.txt")
    assert _reconcile_cache_report(spark, docs) == _read_golden("reconcile_persisted_plans.txt")


def test_x2_plan_matches_golden(spark):
    """x2 is ``dedup.minhash_lsh_pairs``, the path the ``near_dup`` benchmark
    times: its plan stays one band exchange, the cap window once, and one
    grouping that expands each band's pairs (no join), pinned to the golden
    file."""
    assert _query_plan(spark, "x2_minhash_lsh_pairs") == _read_golden("x2_plan.txt")


def test_fold_scores_under_the_committed_runs_cap_and_calibration(spark, tmp_path):
    """A fold given only ``--new-documents`` and ``--output`` applies the
    block cap and the fitted weights/threshold the full run recorded with
    its ``scored`` table, and refuses a different cap."""
    import pytest
    from pyspark.sql import functions as F

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import (
        schemas,
        synth,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs import (
        incremental_job,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
        scoring,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
    )

    cap = 40
    out = str(tmp_path / "fold_out")
    main(["--synth", "300", "--calibrate-synth", "--max-block-size", str(cap), "--output", out])
    cat = Catalog(out)
    recorded = cat.meta("scored")
    assert recorded["max_block_size"] == cap

    # a batch of unseen documents: another seed's corpus under fresh ids
    batch = synth.generate(seed=7, n_journals=40).documents
    batch = [{**d, "doc_id": d["doc_id"].replace(":", ":new", 1)} for d in batch]
    new_path = str(tmp_path / "new_docs")
    spark.createDataFrame(batch, schema=schemas.DOCUMENTS).write.parquet(new_path)
    with pytest.raises(ValueError, match="max_block_size"):
        incremental_job.main(
            ["--new-documents", new_path, "--output", out, "--max-block-size", str(cap + 1)]
        )
    incremental_job.main(["--new-documents", new_path, "--output", out])

    (batch_id,) = cat.list_batches("scored")
    delta = spark.read.parquet(os.path.join(out, "scored", f"batch_{batch_id}"))
    pairs = delta.select("left_id", "right_id")
    assert pairs.count() > 0

    # the delta's scores are the recorded model's, not the shipped constants
    records = cat.read_committed(spark, "records")

    def probs(df):
        return {(r["left_id"], r["right_id"]): r["match_prob"] for r in df.collect()}

    got = probs(delta)
    want = probs(scoring.score_pairs(
        pairs, records, weights=recorded["weights"], threshold=recorded["threshold"]
    ))
    assert got == want
    assert got != probs(scoring.score_pairs(pairs, records))

    # every delta pair shares at least one key within the cap
    keys = cat.read_committed(spark, "blocking_keys")
    sizes = keys.groupBy("key").agg(F.count("*").alias("n"))
    kept = keys.join(sizes.where(F.col("n") <= cap), "key").select("doc_id", "key")
    supported = (
        pairs.join(kept.withColumnRenamed("doc_id", "left_id"), "left_id")
        .join(kept.withColumnRenamed("doc_id", "right_id"), ["right_id", "key"])
        .select("left_id", "right_id")
        .distinct()
    )
    assert pairs.subtract(supported).count() == 0


if __name__ == "__main__":
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (
        get_spark,
    )

    session = get_spark(app_name="golden", cores=4, shuffle_partitions=8)
    os.makedirs(GOLDEN, exist_ok=True)
    with open(os.path.join(GOLDEN, "x1_plan.txt"), "w") as f:
        f.write(_query_plan(session, "x1_reconcile_flagship"))
    with open(os.path.join(GOLDEN, "x2_plan.txt"), "w", newline="") as f:
        f.write(_query_plan(session, "x2_minhash_lsh_pairs"))
    with open(os.path.join(GOLDEN, "reconcile_persisted_plans.txt"), "w") as f:
        f.write(_reconcile_cache_report(session, _synth_docs(session, 300)))
