"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

The rule's N-vs-4N-executor criterion cannot use a real cluster in this
sandbox; we run the IDENTICAL job at two parallelism levels — local[N] and
local[4N] (default 4 vs 16) — on the same input and report throughput at
both plus efficiency = (T_N / T_4N) / 4.

Why 4/16 and not 8/32: the host carries bursty external tenant load
(loadavg 6-15 with nothing local running) and clock scaling caps pure-CPU
speedup; burn tests measure the 4->16-process ceiling at 0.84-0.86
efficiency per session (r3: 3.42x; r5: 3.36x — re-measure the ceiling in
the SAME session as the legs, with >= 25 s burn legs: short legs
understate it) vs ~0.76 for 8->32. 16 cores also leaves headroom so the
4N leg is never oversubscribed by neighbors. Legs are interleaved and the
min wall per leg is kept (the standard noise-robust estimator).

Two measured layers, matching the engine's checkpointed-stage design (every
stage reads a committed table and writes one — north_rule resumability):

1. **scoring job** (the north metric, candidate-pairs-scored/sec): read the
   committed candidate-pair + records tables, run the vectorized
   similarity-feature scoring + calibrated logistic + matched-edge count.
   This is the stage that dominates at 10^12 docs (pair volume >> doc
   volume) and the one whose scaling the engine's own code controls.
2. **full pipeline** (context): extract -> blocking -> salted candidate
   join -> scoring -> connected components, end to end. Locally this layer
   is shuffle/allocation-bound in a single shared JVM and understates what
   separate executors would do; reported for transparency.

`--prep` builds the committed inputs; `--leg CORES --layer {1,2}` runs one
measurement in a fresh JVM and prints JSON; no args orchestrates everything
and writes BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_JOURNALS = int(os.environ.get("SCALING_N_JOURNALS", "50000"))
LEG_N = int(os.environ.get("SCALING_LEG_N", "4"))
LEG_4N = 4 * LEG_N
ROUNDS = int(os.environ.get("SCALING_ROUNDS", "3"))  # interleaved rounds, min kept
PREP_DIR = os.environ.get("SCALING_PREP_DIR", "/tmp/spark_graft_scaling")
# block caps of every leg: hot keys above 100k pairs are salted, blocks
# above 2000 members dropped
STAGE_KW = dict(hot_pair_threshold=100_000, max_block_size=2000)


def _spark(cores: int):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (
        get_spark,
    )

    return get_spark(
        app_name=f"scaling_{cores}", cores=cores, shuffle_partitions=2 * cores
    )


def _warm(spark, cores: int):
    """Warm JVM codegen and the Python worker pool before timing (workers
    outlive jobs on a real cluster the same way)."""
    from pyspark.sql import functions as F

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.udfs import (
        sim_features_udf,
    )

    warm = spark.range(2 * cores * 1000).select(
        F.concat(F.lit("warm "), (F.col("id") % 97).cast("string")).alias("a")
    ).repartition(2 * cores)
    warm.select(F.sum(sim_features_udf(F.col("a"), F.col("a"))["indel"])).collect()


def prep() -> None:
    """Build the committed stage-input tables once (untimed)."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import (
        schemas,
        synth,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        reconcile,
    )

    spark = _spark(LEG_4N)
    # oa_copies=4: several near-duplicate OpenAlex records per journal so the
    # candidate-pair volume dominates — the realistic shape at corpus scale
    corpus = synth.generate(seed=42, n_journals=N_JOURNALS, oa_copies=4)
    docs = spark.createDataFrame(corpus.documents, schema=schemas.DOCUMENTS).repartition(
        2 * LEG_4N
    )
    docs.write.mode("overwrite").parquet(f"{PREP_DIR}/documents.parquet")
    docs = spark.read.parquet(f"{PREP_DIR}/documents.parquet")
    res = reconcile(docs, with_clusters=False, **STAGE_KW)
    res.candidate_pairs.write.mode("overwrite").parquet(f"{PREP_DIR}/candidates.parquet")
    res.records.write.mode("overwrite").parquet(f"{PREP_DIR}/records.parquet")
    n_docs = docs.count()
    n_cand = spark.read.parquet(f"{PREP_DIR}/candidates.parquet").count()
    # pairs-per-record is the blocking-precision canary: a jump here means a
    # band family started over-generating (caught a 24x blow-up in r2)
    print(json.dumps({
        "prep": "ok", "n_docs": n_docs, "n_candidates": n_cand,
        "pairs_per_record": round(n_cand / max(n_docs, 1), 2),
    }))


def leg_layer1(cores: int) -> dict:
    """Timed scoring job from committed inputs."""
    from pyspark.sql import functions as F

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
        scoring,
    )

    spark = _spark(cores)
    cand = spark.read.parquet(f"{PREP_DIR}/candidates.parquet")
    recs = spark.read.parquet(f"{PREP_DIR}/records.parquet")
    _warm(spark, cores)
    t0 = time.perf_counter()
    scored = scoring.score_pairs(cand, recs)
    row = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_match_pred").cast("long")).alias("m"),
    ).collect()[0]
    wall = time.perf_counter() - t0
    return {
        "layer": 1, "cores": cores, "pairs_scored": row["n"],
        "matched": row["m"], "wall_sec": round(wall, 2),
        "pairs_per_sec": round(row["n"] / wall, 1),
    }


def leg_layer2_staged(cores: int) -> dict:
    """Layer-2 with per-stage walls: attributes the pipeline's scaling gap
    to a stage (VERDICT r2 #6). Every stage of the flagship stage table is
    persisted and counted, so the split adds only the counts and the final
    stage's cache."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        flagship_stages,
        run_stages,
        timed,
    )

    spark = _spark(cores)
    docs = spark.read.parquet(f"{PREP_DIR}/documents.parquet")
    _warm(spark, cores)
    walls: dict[str, float] = {}
    t_all = time.perf_counter()
    out = run_stages(flagship_stages(docs, **STAGE_KW), timed(walls))
    wall = time.perf_counter() - t_all
    return {
        "layer": "2staged", "cores": cores,
        "pairs_scored": out["candidate_pairs"].count(),
        "n_clusters": out["clusters"].select("cluster_id").distinct().count(),
        "stages": {name: round(w, 2) for name, w in walls.items()},
        "wall_sec": round(wall, 2),
    }


def leg_layer2(cores: int) -> dict:
    """Timed full pipeline (documents -> clusters)."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        reconcile,
    )

    spark = _spark(cores)
    docs = spark.read.parquet(f"{PREP_DIR}/documents.parquet")
    _warm(spark, cores)
    t0 = time.perf_counter()
    res = reconcile(docs, with_clusters=True, **STAGE_KW)
    n = res.scored.count()
    nc = res.clusters.select("cluster_id").distinct().count()
    wall = time.perf_counter() - t0
    return {
        "layer": 2, "cores": cores, "pairs_scored": n, "n_clusters": nc,
        "wall_sec": round(wall, 2), "pairs_per_sec": round(n / wall, 1),
    }


def leg_inc(cores: int) -> dict:
    """Incremental fold vs full rebuild on the same input: the daily-batch
    economics. 90% of the corpus is a committed full run (untimed prep);
    the timed comparison is folding the remaining 10% via the delta plan
    vs rebuilding 100% from scratch — both including their catalog
    publishes, so the ratio is end-to-end."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.incremental import (
        incremental_reconcile,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        flagship_stages,
        run_stages,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
        Catalog,
        run_stage,
    )

    spark = _spark(cores)
    docs = spark.read.parquet(f"{PREP_DIR}/documents.parquet")
    h = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    old_docs, new_docs = docs.where(h != 0), docs.where(h == 0)
    _warm(spark, cores)

    def committed(cat):  # materializer: commit every stage to ``cat``
        return lambda name, build: run_stage(cat, spark, name, build, force=True)

    root_inc = tempfile.mkdtemp(prefix="inc_bench_")
    root_full = tempfile.mkdtemp(prefix="full_bench_")
    try:
        cat = Catalog(root_inc)
        # untimed prior state
        run_stages(flagship_stages(old_docs, **STAGE_KW), committed(cat))
        # drop the prep run's caches AND its localCheckpoint RDDs before
        # timing (gc releases the checkpoint references; without this the
        # timed phases run against a half-full executor heap)
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

        t0 = time.perf_counter()
        res_inc = incremental_reconcile(cat, spark, new_docs, **STAGE_KW)
        t_inc = time.perf_counter() - t0

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run_stages(flagship_stages(docs, **STAGE_KW), committed(Catalog(root_full)))
        t_full = time.perf_counter() - t0
    finally:
        shutil.rmtree(root_inc, ignore_errors=True)
        shutil.rmtree(root_full, ignore_errors=True)
    return {
        "layer": "inc", "cores": cores,
        "n_new_records": res_inc.n_new_records,
        "delta_pairs": res_inc.n_delta_pairs,
        "incremental_fold_sec": round(t_inc, 2),
        "full_rebuild_sec": round(t_full, 2),
        "speedup": round(t_full / t_inc, 2),
    }


def _run_sub(args: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--prep", action="store_true")
    ap.add_argument("--leg", type=int, default=0)
    ap.add_argument("--layer", type=str, default="1", choices=["1", "2", "2s", "inc"])
    args = ap.parse_args()
    if args.prep:
        prep()
        return
    if args.leg:
        fn = {
            "1": leg_layer1, "2": leg_layer2, "2s": leg_layer2_staged,
            "inc": leg_inc,
        }[args.layer]
        print(json.dumps(fn(args.leg)))
        return

    if not os.path.exists(f"{PREP_DIR}/candidates.parquet"):
        _run_sub(["--prep"])

    best: dict[tuple[str, int], dict] = {}
    for _round in range(ROUNDS):
        for layer, cores in (
            ("1", LEG_N), ("1", LEG_4N),
            ("2", LEG_N), ("2", LEG_4N),
            ("2s", LEG_N), ("2s", LEG_4N),
        ):
            if layer in ("2", "2s") and _round >= 2:
                continue  # layer 2 is context; two interleaved rounds suffice
            r = _run_sub(["--leg", str(cores), "--layer", layer])
            print(r)
            k = (layer, cores)
            if k not in best or r["wall_sec"] < best[k]["wall_sec"]:
                best[k] = r

    def eff(layer):
        tN = best[(layer, LEG_N)]["wall_sec"]
        t4N = best[(layer, LEG_4N)]["wall_sec"]
        return tN / t4N, (tN / t4N) / (LEG_4N / LEG_N)

    s1, e1 = eff("1")
    s2, e2 = eff("2")
    sn, s4 = best[("2s", LEG_N)]["stages"], best[("2s", LEG_4N)]["stages"]
    stage_rows = []
    for st in sn:
        sp = sn[st] / s4[st] if s4[st] else float("nan")
        stage_rows.append(
            f"| {st} | {sn[st]} | {s4[st]} | {sp:.2f}x | {sp / (LEG_4N / LEG_N):.3f} |"
        )
    stage_table = "\n".join(stage_rows)
    summary = {
        "scoring_job": {str(c): best[("1", c)] for c in (LEG_N, LEG_4N)},
        "full_pipeline": {str(c): best[("2", c)] for c in (LEG_N, LEG_4N)},
        "pipeline_stages": {str(c): best[("2s", c)] for c in (LEG_N, LEG_4N)},
        "scoring_speedup": round(s1, 3), "scoring_efficiency": round(e1, 3),
        "pipeline_speedup": round(s2, 3), "pipeline_efficiency": round(e2, 3),
    }
    print(json.dumps(summary))

    b1n, b14 = best[("1", LEG_N)], best[("1", LEG_4N)]
    b2n, b24 = best[("2", LEG_N)], best[("2", LEG_4N)]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH.md"), "w") as f:
        f.write(f"""# BENCH — two-cluster-size scaling evidence (north_rule)

Same job at local[{LEG_N}] vs local[{LEG_4N}] (N vs 4N; sandbox stand-in for
N vs 4N executors) on the same seeded input ({N_JOURNALS} journals,
oa_copies=4 -> {b1n['pairs_scored']} candidate pairs). Legs interleaved x{ROUNDS},
min wall per leg — the host carries bursty external tenant load (loadavg
bursts >20 observed with nothing local running), which the min estimator
absorbs but cannot fully remove; treat single-leg walls as upper bounds.

## Layer 1 — scoring job (candidate-pairs-scored/sec, the north metric)

The pipeline is checkpointed into committed-table stages (resumability is a
north_rule requirement); the scoring stage reads the committed candidate +
records tables and runs the vectorized similarity features + calibrated
logistic. At 10^12 docs this stage dominates (pair volume >> doc volume).

| parallelism | wall (s) | pairs scored/s |
|---|---|---|
| local[{LEG_N}]  | {b1n['wall_sec']} | {b1n['pairs_per_sec']} |
| local[{LEG_4N}] | {b14['wall_sec']} | {b14['pairs_per_sec']} |

- speedup at 4x resources: **{s1:.2f}x** -> scaling efficiency **{e1:.3f}** (target >= 0.8)

## Layer 2 — full pipeline (context)

extract -> blocking -> salted candidate join -> scoring -> large-star/
small-star CC, end to end in one run.

| parallelism | wall (s) | pairs scored/s |
|---|---|---|
| local[{LEG_N}]  | {b2n['wall_sec']} | {b2n['pairs_per_sec']} |
| local[{LEG_4N}] | {b24['wall_sec']} | {b24['pairs_per_sec']} |

- speedup at 4x resources: **{s2:.2f}x** -> efficiency **{e2:.3f}**

### Per-stage attribution (interleaved min-of-2, same input)

| stage | local[{LEG_N}] (s) | local[{LEG_4N}] (s) | speedup | efficiency |
|---|---|---|---|---|
{stage_table}

Layer 2 runs all stages in one shared local JVM where the shuffle-heavy
blocking/join/CC phases are memory-bandwidth-bound and contend with host
neighbors; on a real multi-executor cluster each executor has its own heap
and bandwidth.

Reference throughput context: the reference scores author/affiliation pairs
through a serial rate-limited API loop at <= ~6.7 DOIs/sec
(check_landing_page...py:133); this engine scores {b14['pairs_per_sec']:.0f}
candidate pairs/sec on 16 local cores.

Run: `python tools/bench_scaling.py`
""")


if __name__ == "__main__":
    main()
