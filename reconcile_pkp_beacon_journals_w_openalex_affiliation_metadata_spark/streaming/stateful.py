"""Custom stateful streaming operator: cross-batch first-seen dedup.

The batch engine dedups with a hash groupBy (dedup.exact_dup_groups) or the
catalog anti-join (S12). In a continuous ingest, the same guarantee —
"each content key contributes exactly one row, ever" — needs per-key state
that survives across micro-batches: ``applyInPandasWithState`` with a
one-flag GroupState per key. First occurrence of a key is emitted, every
later occurrence (same batch or any later batch) is dropped.

State size is one boolean per distinct key — the streaming analog of the
exact-dedup content-key set, sharded by the groupBy hash. At corpus scale
use RocksDB state store and a TTL timeout if keys are time-bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def first_seen_stream(stream: DataFrame) -> DataFrame:
    """streaming df with ``content_key`` -> rows whose key appears for the first
    time across the whole stream (exactly-once per key, checkpoint-backed)."""
    out_schema = stream.schema

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return  # key already emitted in an earlier batch
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]]
        if first is not None:
            state.update((True,))
            yield first

    return (
        stream.groupBy(F.col("content_key"))
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
