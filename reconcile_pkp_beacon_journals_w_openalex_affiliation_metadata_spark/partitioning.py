"""Scan-parallelism repair for per-row-expensive passes.

Parquet can only split a file at row-group boundaries, so a table written as
one giant row group scans as ONE task no matter how many cores the cluster
has — every downstream narrow operator (UDF banding, simhash, shingle
explode, higher-order array math) then runs single-core until the first
shuffle. The optimization guide calls this input skew ("one huge
unsplittable file ... repartition immediately after the read", §2.5).

``spread`` repartitions a DataFrame up to the session's default parallelism
ONLY when its current partitioning is below it — scale-adaptive, not a
constant: at real corpus scale a scan already yields thousands of splits and
``spread`` is a no-op (no extra shuffle of a 100 TB text column); on a
single-row-group fixture it buys cores-times parallelism for the price of
shuffling the (small) file once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` partitions
    iff it currently has fewer — the guard that keeps this a
    no-op on well-laid-out inputs (and the reason it is safe to call inside
    operators: the repartition only ever ADDS parallelism, never collapses
    an already-parallel scan).

    Round-robin (keyless) repartition is deterministic under task retries:
    ``spark.sql.execution.sortBeforeRepartition`` (default on) locally sorts
    rows so a re-run task reproduces the same row-to-partition assignment.
    Row content and multiset semantics are untouched.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
