"""Stateful streaming sessionization (the continuous twin of query t9).

Batch t9 sessionizes with lag + running-sum over a window. On a continuous
ingest the same 30-minute-inactivity semantics need per-user state that
survives micro-batches: ``applyInPandasWithState`` holding the open
session (start, last-seen, count) per user and emitting a session row the
moment a gap larger than ``GAP_S`` is observed.

Semantics (documented, tested):
- events inside a batch are processed in event-time order (per-group sort);
- an event with ts <= last_seen (cross-batch stragglers) extends the open
  session's count but never reopens a closed one;
- sessions are emitted CLOSED-only: the trailing open session per user
  stays in state. With ``timeout='event_time'`` (requires a watermarked
  stream) the open session is flushed when the watermark passes
  last_seen + gap; with ``timeout='none'`` (tests, AvailableNow replays)
  it flushes only when a later event closes it.

State is 3 longs per active user — the streaming analog of t9's window
partition, sharded by the groupBy hash. Use RocksDB state store at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# session gap: the t9 batch query's 30 minutes of inactivity
GAP_S = 1800

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _fold_group(
    key_val,
    chunks: list[pd.Series],
    state_tuple: tuple | None,
    gap_us: int,
) -> tuple[list[tuple], tuple | None]:
    """Fold one group's event-time chunks into (closed_sessions, open_state).

    Arrow hands the group over as MULTIPLE chunks with no ordering guarantee
    ACROSS them — every chunk is collected first and sorted ONCE so the
    per-group event-time order the module docstring promises holds even when
    a user's events span chunks (sorting per chunk could close a session
    early on an out-of-order later chunk). Module-level so the multi-chunk
    ordering contract is directly unit-testable without a streaming query.
    """
    start_us = last_us = None
    n = 0
    if state_tuple is not None:
        start_us, last_us, n = state_tuple
    closed: list[tuple] = []
    chunks = [c for c in chunks if len(c)]
    if chunks:
        # pandas datetime64[ns] -> integer microseconds
        ts_us = (pd.concat(chunks).astype("int64") // 1000).sort_values()
        for t in ts_us:
            t = int(t)
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t <= last_us:
                n += 1  # straggler inside the open session
            elif t - last_us > gap_us:
                closed.append((key_val, start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
    open_state = None if start_us is None else (start_us, last_us, n)
    return closed, open_state


def sessionize_stream(stream: DataFrame, timeout: str = "none") -> DataFrame:
    """streaming (user_id, ts, ...) -> closed sessions
    (user_id, session_start_us, session_end_us, n_events)."""
    gap_us = GAP_S * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if timeout == "event_time" and state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start_us, last_us, n)],
                columns=[f.name for f in _OUT_SCHEMA.fields],
            )
            return
        closed, open_state = _fold_group(
            key[0],
            [pdf["ts"] for pdf in pdfs],
            state.get if state.exists else None,
            gap_us,
        )
        if open_state is not None:
            state.update(open_state)
            if timeout == "event_time":
                state.setTimeoutTimestamp((open_state[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in _OUT_SCHEMA.fields]
            )

    conf = (
        GroupStateTimeout.EventTimeTimeout
        if timeout == "event_time"
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(F.col("user_id")).applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=conf,
    )
