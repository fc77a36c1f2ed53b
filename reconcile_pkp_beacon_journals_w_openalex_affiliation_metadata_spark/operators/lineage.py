"""Per-partition lineage + match-rate metrics (north_rule requirement).

The reference keeps 12 atomic counters per stage and logs them periodically
(main.rs:86-144,622-641; Python tallies parse_record_data_from_files.py:
337-345). Spark equivalents:

- ``partition_metrics``: per-partition row counts via
  ``spark_partition_id()`` groupBy — one extra cheap agg, appended to the
  lineage table so skew is visible per stage per partition;
- ``match_rate_metrics``: per-key-family match rates of the scored pairs.

The audit-sum counters (filter-reason buckets must sum to lines read) ride
on an action as an ``Observation`` in ``corpus_filter.filter_works``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """(run_id, stage, partition_id, metric, value) rows — the lineage table
    payload for one stage."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("partition_id"),
            F.lit("rows").alias("metric"),
            F.col("value").cast("double"),
        )
    )


def match_rate_metrics(scored: DataFrame, run_id: str) -> DataFrame:
    """Blocking-key-family match rates for the scored pairs table."""
    fam = F.split(F.col("blocking_key"), ":").getItem(0)
    return (
        scored.groupBy(fam.alias("key_family"))
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum(F.col("is_match_pred").cast("long")).alias("matched"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit("scoring").alias("stage"),
            F.lit(-1).alias("partition_id"),
            F.concat(F.lit("match_rate:"), F.col("key_family")).alias("metric"),
            (F.col("matched") / F.col("pairs")).cast("double").alias("value"),
        )
    )
