"""Benchmark decontamination: flag training docs that overlap an eval set.

The standard pretraining hygiene step (public practice since GPT-2/GPT-3's
n-gram decontamination appendices): a training document is contaminated if
it shares at least one k-token shingle with any benchmark/eval document.
Expressed Spark-first:

    train docs -> k-token shingles (native sequence+transform, no UDF)
    bench docs -> same shingles, distinct
    inner join on the shingle string  -> groupBy(train doc) rollup

Scale shape: benchmark suites are tiny relative to a 10^12-doc corpus
(thousands of docs), so the bench shingle side is broadcast — the join is
a map-side hash probe over the corpus scan, no shuffle of the corpus. The
output is the anti-joinable flag table (doc_id, n_hits, first_bench_id),
the same consumer contract as the dedup decision table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import spread


def _shingles(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle) rows: every k-token window of the whitespace stream,
    space-joined. Docs shorter than k tokens emit nothing.

    The token array is materialized into a column BEFORE the per-window
    transform: referencing the split() expression inside the lambda makes
    codegen re-tokenize the whole document per window (O(n^2) per doc —
    measured 6x slower at sf0.1)."""
    toks = F.split(F.trim(F.col("text")), "[ \t\n\f\r]+")
    # tokenize + per-window transform + explode is the expensive narrow
    # chain; a one-row-group scan would run it single-task (partitioning
    # repair, no-op on parallel scans)
    base = (
        spread(df).select("doc_id", toks.alias("_toks"))
        .where(F.size("_toks") >= k)
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - k),
        lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, k)),
    )
    return base.select("doc_id", F.explode(wins).alias("shingle"))


def ngram_contamination(train: DataFrame, bench: DataFrame, k: int = 8) -> DataFrame:
    """Per-train-doc contamination rollup against a benchmark set; both
    frames carry (doc_id, text).

    Returns (doc_id, n_hits, first_bench_id): n_hits = number of
    DISTINCT k-shingles the doc shares with any benchmark doc,
    first_bench_id = smallest matching benchmark id (for triage). A doc
    with no shared shingle is absent — the table is anti-joinable:
    ``corpus.join(flags, "doc_id", "left_anti")`` is the clean corpus.

    The bench side is deduped to distinct (shingle, min bench id) FIRST so
    a shingle repeated across benchmark docs cannot fan out the probe, then
    broadcast (benchmark suites are small by construction; pass a
    pre-aggregated frame and drop the broadcast hint upstream if yours is
    not).
    """
    bench_sh = (
        _shingles(bench, k)
        .groupBy("shingle")
        .agg(F.min(F.col("doc_id")).alias("bench_id"))
    )
    # probe FIRST, dedupe AFTER: the broadcast join filters map-side, so
    # only the (rare) matching shingle occurrences ever shuffle — a
    # .distinct() before the join would shuffle the corpus's entire
    # shingle stream just to dedupe rows that mostly match nothing.
    # bench_sh has one row per shingle, so the join cannot fan a train
    # occurrence out; dropDuplicates then collapses repeated occurrences
    # within a doc, making n_hits a DISTINCT-shingle count.
    hits = (
        _shingles(train, k)
        .join(F.broadcast(bench_sh), "shingle")
        .dropDuplicates(["doc_id", "shingle"])
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"),
        F.min("bench_id").alias("first_bench_id"),
    )
