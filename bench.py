"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "pairs_scored_per_sec": ...}

Protocol: one UNTIMED warm-up lap of the whole headline set (session ramp —
per-plan codegen, parquet footers, broadcast build — dominated the r2 cold
numbers), then SPARK_GRAFT_BENCH_LAPS (default 2) timed laps; per-query and
suite values are the min across timed laps (noise-robust on a shared host).
"value" is the best whole-lap wall, not the sum of per-query minima.

The headline set spans the engine's hot paths: the flagship reconcile
pipeline (blocking + salted pairs + vectorized scoring), the clustering
round, the windowed/rolled-up analytics, and the dedup/similarity family.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (  # noqa: E402
    get_spark,
)

HEADLINE = [
    "x1_reconcile_flagship",
    "j3_top1_per_group",
    "j5_connected_components",
    "a2_grouped_dedup_sources",
    "a10_grouping_sets_rollup",
    "w2_last_nonnull_carry",
    "t1_text_quality",
    "t6_embedding_topk",
    "x2_minhash_lsh_pairs",
    "x4_ann_lsh_topk",
    "x9_ann_ivf_topk",
    # r4 entries: chunk-splitting sequence packing (window + explode, all
    # native) and the incremental block-then-verify near-dup
    "t11_sequence_packing_slices",
    "x13_delta_ngram_jaccard",
    # r5 entries: pack materialization (bounded-state groupBy) and the
    # broadcast decontamination probe
    "t14_pack_materialize",
    "t16_decontamination",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=int(cpus))

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.udfs import (
        sim_features_udf,
    )

    qs = entry_mod.queries()
    # warm the JVM codegen AND the Python worker pool so the first headline
    # entry doesn't pay one-time startup
    warm = spark.range(int(cpus) * 2000).select(
        F.concat(F.lit("warm "), (F.col("id") % 97).cast("string")).alias("a")
    )
    warm.select(F.sum(sim_features_udf(F.col("a"), F.col("a"))["indel"])).collect()

    # one UNTIMED warm-up lap of the full headline set: the r2 verdict
    # measured ~85% of the flagship's cold number as one-time session ramp
    # (per-plan codegen, parquet footer reads, broadcast build). Steady state
    # is what round-over-round deltas should compare. Then min-of-2 timed
    # laps — the host carries bursty external load (BENCH.md protocol).
    laps = int(os.environ.get("SPARK_GRAFT_BENCH_LAPS", "2"))
    for name in HEADLINE:
        qs[name](spark, sf_dir).count()

    times: dict[str, float] = {}
    total = 0.0
    for _ in range(laps):
        # drop DataFrame caches left by operator-internal persist() calls:
        # the CacheManager serves identical plans from cache, so without
        # this a timed lap would elide whole stages (e.g. the LSH banding
        # UDF) computed by the previous lap — warm JVM yes, warm data no
        spark.catalog.clearCache()
        lap_total = 0.0
        lap_times: dict[str, float] = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            lap_times[name] = dt
            lap_total += dt
        for name, dt in lap_times.items():
            if name not in times or dt < times[name]:
                times[name] = dt
        if total == 0.0 or lap_total < total:
            total = lap_total
    times = {k: round(v, 3) for k, v in times.items()}
    total = round(total, 3)

    # scoring throughput: the north metric (candidate-pairs-scored/sec) on a
    # synthetic 300k-pair batch of realistic normalized titles
    n_pairs = 300_000
    # every pair distinct (no batch-memo hits) — honest per-pair throughput
    pairs = spark.range(n_pairs).select(
        F.concat(F.lit("regional studies in applied fish biology volume "),
                 F.col("id").cast("string")).alias("a"),
        F.concat(F.lit("regional studies in applied fish bioolgy volume "),
                 (F.col("id") + 7).cast("string")).alias("b"),
    ).repartition(int(cpus)).persist()
    pairs.count()
    t0 = time.perf_counter()
    pairs.select(F.sum(sim_features_udf(F.col("a"), F.col("b"))["indel"])).collect()
    score_wall = time.perf_counter() - t0

    out = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_dir,
        "cpus": int(cpus),
        "pairs_scored_per_sec": round(n_pairs / score_wall, 1),
        "flagship_stages": _flagship_stages(spark, sf_dir),
        "protocol": f"1 untimed warm-up lap + min of {laps} timed laps",
    }
    print(json.dumps(out))


def _flagship_stages(spark, sf_dir: str) -> dict[str, float]:
    """Per-stage walls for the flagship pipeline (r4-verdict task #8): the
    2.9 s x1 headline hides WHERE time shifts round-over-round; this makes
    each stage of the flagship stage table individually machine-diffable in
    BENCH_r{N}.json. Every stage is persisted and counted, so the split adds
    only the counts and the final stage's cache."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        flagship_stages,
        run_stages,
        timed,
    )

    spark.catalog.clearCache()
    docs = entry_mod.wrap_documents_as_spans(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    )
    walls: dict[str, float] = {}
    out = run_stages(flagship_stages(docs, max_block_size=500), timed(walls))
    for df in out.values():
        df.unpersist()
    return {name: round(wall, 3) for name, wall in walls.items()}


if __name__ == "__main__":
    main()
