"""spark-submit entrypoint for the full reconcile pipeline.

Usage (cluster):

    zip -r pkg.zip reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark
    spark-submit --py-files pkg.zip \
        reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark/jobs/reconcile_job.py \
        --documents s3://corpus/documents --output s3://out/run1 \
        [--resume] [--n-salts 16] [--max-block-size 5000] \
        [--hot-pair-threshold 5000000] [--labeled s3://corpus/labeled_pairs]

``--labeled`` re-fits the scoring logistic on the given ground-truth table
(distributed pyspark.ml fit + F1-optimal threshold sweep) and serves the
fitted weights instead of the shipped constants. The ``scored`` commit
records the block cap and any fitted weights/threshold in its marker meta;
``jobs/incremental_job.py`` folds new documents under those settings.

Usage (sandbox smoke):

    python -m reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.jobs.reconcile_job \
        --synth 2000 --output /tmp/reconcile_out

The job runs the flagship stage table of ``plans/reconcile.py`` with a
catalog materializer: every stage commits through the catalog (atomic
marker) and is skipped on restart (--resume), satisfying north_rule's
"resumable from the last committed checkpoint"; per-partition lineage +
match-rate metrics are appended to the ``lineage`` table. With a labeled
table the fit runs on the committed records, and ``scored``/``clusters``
are recomputed even under --resume.
"""

from __future__ import annotations

import argparse
import functools
import sys
import uuid

# the lineage table's label for each committed stage
LINEAGE_STAGE = {
    "records": "extract", "blocking_keys": "blocking", "candidate_pairs": "pairs",
    "scored": "scoring", "clusters": "clustering",
}


def _fit_calibration(labeled, scored_meta, records):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import calibrate

    cal = calibrate.fit_calibration(records, labeled)
    print(
        f"calibration: n_train={cal.n_train} train_f1={cal.train_f1:.4f} "
        f"threshold={cal.threshold:.4f} weights={ {k: round(v, 4) for k, v in cal.weights.items()} }"
    )
    scored_meta.update(weights=cal.weights, threshold=cal.threshold)
    return cal


def main(argv=None):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.pairs import DEFAULT_N_SALTS
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
        HOT_PAIR_THRESHOLD,
        flagship_stages,
        run_stages,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", help="path to the interleaved-span documents table")
    ap.add_argument("--synth", type=int, default=0, help="generate a seeded corpus of N journals instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true", help="skip committed stages")
    ap.add_argument("--n-salts", type=int, default=DEFAULT_N_SALTS)
    ap.add_argument("--max-block-size", type=int, default=None)
    ap.add_argument("--hot-pair-threshold", type=int, default=HOT_PAIR_THRESHOLD)
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--labeled",
        help="labeled pairs table (left_id, right_id, is_match): re-fit the "
        "scoring logistic on it (pyspark.ml) and serve the fitted "
        "weights/threshold instead of the shipped constants",
    )
    ap.add_argument(
        "--calibrate-synth",
        action="store_true",
        help="with --synth: calibrate on the generated labeled pairs",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import schemas, synth
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import lineage
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import Catalog, run_stage

    # on a cluster the session comes from spark-submit; local fallback for smoke
    spark = SparkSession.builder.appName("reconcile_pkp_openalex").getOrCreate()
    run_id = args.run_id or uuid.uuid4().hex[:12]
    cat = Catalog(args.output)
    force = not args.resume

    labeled = None
    if args.synth:
        corpus = synth.generate(seed=42, n_journals=args.synth)
        docs = spark.createDataFrame(corpus.documents, schema=schemas.DOCUMENTS)
        if args.calibrate_synth:
            labeled = spark.createDataFrame(
                corpus.labeled_pairs, schema=schemas.LABELED_PAIRS
            )
    else:
        if not args.documents:
            ap.error("--documents or --synth required")
        docs = spark.read.parquet(args.documents)
    schemas.assert_schema(docs, schemas.DOCUMENTS, "documents")

    if args.labeled:
        labeled = spark.read.parquet(args.labeled)
    # the settings a later fold must score under, committed with scored:
    # the block cap, plus the weights/threshold the scored build adds when
    # it fits them (run_stage writes meta after build() has run)
    scored_meta = {"max_block_size": args.max_block_size}
    fit = (
        functools.partial(_fit_calibration, labeled, scored_meta)
        if labeled is not None else None
    )
    lineage_rows = []

    def commit(name, build):
        # a fresh calibration invalidates any committed scored/clusters
        # tables: force those stages even under --resume, else the fitted
        # weights would be silently discarded in favor of stale decisions
        df = run_stage(
            cat, spark, name, build,
            force=force or (fit is not None and name in ("scored", "clusters")),
            meta=scored_meta if name == "scored" else None,
        )
        lineage_rows.append(lineage.partition_metrics(df, run_id, LINEAGE_STAGE[name]))
        if name == "scored":
            lineage_rows.append(lineage.match_rate_metrics(df, run_id))
        return df

    out = run_stages(
        flagship_stages(
            docs, n_salts=args.n_salts, hot_pair_threshold=args.hot_pair_threshold,
            max_block_size=args.max_block_size, calibrate=fit,
        ),
        commit,
    )
    scored, clusters = out["scored"], out["clusters"]

    lin = lineage_rows[0]
    for extra in lineage_rows[1:]:
        lin = lin.unionByName(extra)
    # lineage is append-only across runs
    lin.write.mode("append").parquet(f"{args.output}/lineage.parquet")

    n_pairs = scored.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(f"run_id={run_id} pairs_scored={n_pairs} clusters={n_clusters} output={args.output}")


if __name__ == "__main__":
    # script-mode bootstrap: `python .../jobs/<job>.py` (or spark-submit
    # without --py-files) puts the jobs/ dir on sys.path, not the repo root
    import os

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sys.exit(main())
