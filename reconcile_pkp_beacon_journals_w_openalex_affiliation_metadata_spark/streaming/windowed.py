"""Watermarked event-time windowed aggregation (§2.9 streaming).

The batch engine's hourly rollup (stats.hourly_rollup / t7) re-expressed for
a continuous stream: tumbling event-time windows with a watermark so
bounded-late data is merged and unbounded-late data is dropped, state is
evicted once a window closes, and append mode emits each window exactly once
when it finalizes. This is the standard Spark shape — no custom state — and
composes with the AvailableNow runner in ``incremental.py`` (watermarks
persist in the checkpoint across runs, so late-data semantics hold across
restarts too; the test drives exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(stream: DataFrame, key_col: str | None = "event_type") -> DataFrame:
    """(ts, [key], value) stream -> (window struct, [key], n, sum_value)
    over 10-second tumbling windows, with watermark-gated state.

    Append-mode contract: a window row is emitted once, when the watermark
    passes its end; events more than 30 seconds behind the max seen event
    time are dropped (the reference's batch rollup has no late concept —
    this is the streaming extension)."""
    wm = stream.withWatermark("ts", "30 seconds")
    keys = [F.window(F.col("ts"), "10 seconds").alias("window")]
    if key_col:
        keys.append(F.col(key_col))
    return wm.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
    )
