"""spark-submit entrypoint for incremental reconcile (daily-batch path).

Usage (cluster):

    zip -r pkg.zip reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark
    spark-submit --py-files pkg.zip \
        reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark/jobs/incremental_job.py \
        --new-documents s3://corpus/new_batch --output s3://out/run1

    # or drain a landing directory through Structured Streaming
    ... incremental_job.py --stream-dir s3://corpus/drops \
        --checkpoint s3://out/run1/_stream_ckpt --output s3://out/run1

``--output`` must hold a committed full run (jobs/reconcile_job.py); each
invocation folds only the delta (new x all candidate pairs, delta scoring,
seeded connected components) and republishes crash-safely — the records
table commits last, so an interrupted run replays idempotently.

The block cap and the scoring model come from the committed ``scored``
table: the full run recorded its ``--max-block-size`` and any fitted
weights/threshold there, ``--max-block-size`` defaults to that cap, and a
different one is refused.
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.pairs import (
        DEFAULT_N_SALTS,
        HOT_PAIR_THRESHOLD,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument("--new-documents", help="parquet path of the new document batch")
    ap.add_argument(
        "--stream-dir",
        help="drain a landing directory via Trigger.AvailableNow instead "
        "of a single batch (needs --checkpoint)",
    )
    ap.add_argument("--checkpoint", help="streaming checkpoint dir (with --stream-dir)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-salts", type=int, default=DEFAULT_N_SALTS)
    ap.add_argument(
        "--max-block-size", type=int, default=None,
        help="defaults to the cap recorded by the committed full run",
    )
    ap.add_argument("--hot-pair-threshold", type=int, default=HOT_PAIR_THRESHOLD)
    args = ap.parse_args(argv)
    if bool(args.new_documents) == bool(args.stream_dir):
        ap.error("exactly one of --new-documents / --stream-dir required")
    if args.stream_dir and not args.checkpoint:
        ap.error("--stream-dir needs --checkpoint")

    from pyspark.sql import SparkSession

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import Catalog

    spark = SparkSession.builder.appName("reconcile_incremental").getOrCreate()
    cat = Catalog(args.output)
    kwargs = dict(
        n_salts=args.n_salts,
        hot_pair_threshold=args.hot_pair_threshold,
        max_block_size=args.max_block_size,
    )
    if args.stream_dir:
        from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.streaming.incremental import streaming_incremental_reconcile

        results = streaming_incremental_reconcile(
            cat, spark, args.stream_dir, args.checkpoint, **kwargs
        )
        n_new = sum(r["n_new"] for r in results)
        n_pairs = sum(r["n_delta_pairs"] for r in results)
        print(
            f"batches={len(results)} new_records={n_new} delta_pairs={n_pairs} "
            f"output={args.output}"
        )
        return 0
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.incremental import incremental_reconcile

    docs = spark.read.parquet(args.new_documents)
    res = incremental_reconcile(cat, spark, docs, **kwargs)
    print(
        f"new_records={res.n_new_records} delta_pairs={res.n_delta_pairs} "
        f"delta_matches={res.n_delta_matches} output={args.output}"
    )
    return 0


if __name__ == "__main__":
    # script-mode bootstrap: `python .../jobs/<job>.py` (or spark-submit
    # without --py-files) puts the jobs/ dir on sys.path, not the repo root
    import os

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    sys.exit(main())
