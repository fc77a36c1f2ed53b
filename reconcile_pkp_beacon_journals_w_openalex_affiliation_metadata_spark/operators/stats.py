"""Reconciliation stats: overall + per-DOI rollup (get_stats.py parity).

The reference computes two fixed granularities in two passes
(utils/get_stats.py:38-147 overall, :150-268 per-DOI) — a 2-level rollup.
Here each is a single groupBy/agg pass; ``rollup_stats`` fuses both with
GROUPING SETS so one shuffle serves both outputs (SURVEY.md §2.4 note).

Parity choices lifted from the reference:
- tolerant parsing: bool = str(v).strip().lower()=='true', float default 0.0
  (:27-36) — inputs here are already typed, so parsing is a no-op,
- median is the exact statistics.median (Spark ``median``),
- stdev is the *sample* stdev, 0.0 when n<=1 (:133-140),
- pct denominators are valid_rows (:122-124).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _conds():
    ea = F.col("exact_author_match")
    na = F.col("normalized_author_match")
    ei = F.col("exact_institution_match")
    ni = F.col("normalized_institution_match")
    a_s = F.col("author_similarity_score")
    i_s = F.col("institution_similarity_score")
    return {
        "exact_author_match": ea,
        "normalized_author_match": na,
        "exact_institution_match": ei,
        "normalized_institution_match": ni,
        "exact_both_match": ea & ei,
        "normalized_both_match": na & ni,
        "norm_author_not_exact": na & ~ea,
        "norm_inst_not_exact": ni & ~ei,
        "high_author_score_no_norm_match": (a_s > 90.0) & ~na,
        "high_inst_score_no_norm_match": (i_s > 90.0) & ~ni,
        "norm_author_match_no_norm_inst": na & ~ni,
        "perfect_author_score": a_s == 100.0,
        "perfect_inst_score": i_s == 100.0,
    }


def overall_stats(scored: DataFrame) -> DataFrame:
    """One-row DataFrame mirroring calculate_overall_statistics
    (utils/get_stats.py:38-147): 13 counters + pcts + score stats."""
    aggs = [F.count("*").alias("valid_rows")]
    for name, cond in _conds().items():
        aggs.append(F.sum(cond.cast("int")).alias(f"{name}_count"))
    for prefix, col in (("author_score", "author_similarity_score"),
                        ("inst_score", "institution_similarity_score")):
        c = F.col(col)
        aggs += [
            F.avg(c).alias(f"{prefix}_mean"),
            F.median(c).alias(f"{prefix}_median"),
            F.min(c).alias(f"{prefix}_min"),
            F.max(c).alias(f"{prefix}_max"),
            F.when(F.count(c) > 1, F.stddev_samp(c)).otherwise(0.0).alias(f"{prefix}_stdev"),
        ]
    out = scored.agg(*aggs)
    for name in _conds():
        out = out.withColumn(
            f"{name}_pct",
            F.col(f"{name}_count") / F.col("valid_rows") * 100.0,
        )
    return out


def per_doi_stats(scored: DataFrame) -> DataFrame:
    """Per-DOI 23-column stats mirroring calculate_per_doi_statistics
    (utils/get_stats.py:150-268; column list :311-321)."""
    ea = F.col("exact_author_match").cast("int")
    na = F.col("normalized_author_match").cast("int")
    ei = F.col("exact_institution_match").cast("int")
    ni = F.col("normalized_institution_match").cast("int")
    a_s = F.col("author_similarity_score")
    i_s = F.col("institution_similarity_score")
    g = scored.groupBy(F.trim(F.col("DOI")).alias("DOI")).agg(
        F.count("*").alias("TotalAuthorsInput"),
        F.sum(ea).alias("CountExactAuthorMatch"),
        F.sum(na).alias("CountNormAuthorMatch"),
        F.sum(ei).alias("CountExactInstMatch"),
        F.sum(ni).alias("CountNormInstMatch"),
        F.sum((ea * ei)).alias("CountExactBothMatch"),
        F.sum((na * ni)).alias("CountNormBothMatch"),
        F.round(F.avg(a_s), 2).alias("AvgAuthorScore"),
        F.round(F.median(a_s), 2).alias("MedianAuthorScore"),
        F.round(F.min(a_s), 2).alias("MinAuthorScore"),
        F.round(F.max(a_s), 2).alias("MaxAuthorScore"),
        F.round(F.avg(i_s), 2).alias("AvgInstScore"),
        F.round(F.median(i_s), 2).alias("MedianInstScore"),
        F.round(F.min(i_s), 2).alias("MinInstScore"),
        F.round(F.max(i_s), 2).alias("MaxInstScore"),
    )
    return g.select(
        "*",
        (F.col("CountExactAuthorMatch") == F.col("TotalAuthorsInput")).alias("AllAuthorsExactMatch"),
        (F.col("CountNormAuthorMatch") == F.col("TotalAuthorsInput")).alias("AllAuthorsNormMatch"),
        (F.col("CountExactAuthorMatch") > 0).alias("AnyAuthorExactMatch"),
        (F.col("CountNormAuthorMatch") > 0).alias("AnyAuthorNormMatch"),
        (F.col("CountExactInstMatch") == F.col("TotalAuthorsInput")).alias("AllInstExactMatch"),
        (F.col("CountNormInstMatch") == F.col("TotalAuthorsInput")).alias("AllInstNormMatch"),
    )


def rollup_stats(scored: DataFrame) -> DataFrame:
    """Both granularities in ONE pass via GROUPING SETS ((DOI), ()) —
    the fused version of the reference's two passes."""
    df = scored.select(
        F.trim(F.col("DOI")).alias("DOI"),
        F.col("exact_author_match").cast("int").alias("ea"),
        F.col("normalized_author_match").cast("int").alias("na"),
        F.col("author_similarity_score").alias("a_s"),
        F.col("exact_institution_match").cast("int").alias("ei"),
        F.col("normalized_institution_match").cast("int").alias("ni"),
        F.col("institution_similarity_score").alias("i_s"),
    )
    df.createOrReplaceTempView("_scored_rollup_in")
    return df.sparkSession.sql(
        """
        SELECT DOI,
               grouping(DOI)                    AS is_overall,
               count(*)                         AS TotalAuthorsInput,
               sum(ea)                          AS CountExactAuthorMatch,
               sum(na)                          AS CountNormAuthorMatch,
               sum(ei)                          AS CountExactInstMatch,
               sum(ni)                          AS CountNormInstMatch,
               sum(ea * ei)                     AS CountExactBothMatch,
               sum(na * ni)                     AS CountNormBothMatch,
               round(avg(a_s), 2)               AS AvgAuthorScore,
               round(median(a_s), 2)            AS MedianAuthorScore,
               round(avg(i_s), 2)               AS AvgInstScore,
               round(median(i_s), 2)            AS MedianInstScore
        FROM _scored_rollup_in
        GROUP BY GROUPING SETS ((DOI), ())
        """
    )
