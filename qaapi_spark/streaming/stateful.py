"""Custom stateful streaming operator: sessionization with
``applyInPandasWithState`` (pyspark_guide 'Structured Streaming' —
the Spark-native way to express per-key custom state machines).

The batch analog (`plans/relational2.sessionization_gap30`) computes
the same sessions with lag+cumsum; this operator maintains per-user
open-session state across micro-batches and emits one row per CLOSED
session, which is what an unbounded deployment needs (the batch window
formulation would require reprocessing all history each run).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_S = 1800

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import numpy as np

    (user_id,) = key
    gap_us = SESSION_GAP_S * 1_000_000

    # vectorized: concatenate the micro-batch's timestamps (plus the
    # carried open-session tail), sort, find gap boundaries with diff
    ts_us = np.sort(
        np.concatenate(
            [pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64) for pdf in pdfs]
            or [np.array([], dtype=np.int64)]
        )
    )
    if state.exists:
        start_us, last_us, n_prev = state.get
    else:
        start_us = last_us = None
        n_prev = 0

    if ts_us.size == 0:
        state.update((start_us, last_us, n_prev))
        return

    boundaries = np.nonzero(np.diff(ts_us) > gap_us)[0] + 1  # session starts
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [ts_us.size]))

    closed: list[tuple[Any, ...]] = []
    # merge the carried open session with the first chunk if contiguous
    first_start, first_end = int(starts[0]), int(ends[0])
    if start_us is not None and ts_us[0] - last_us <= gap_us:
        seg_start, seg_n = start_us, n_prev + (first_end - first_start)
    else:
        if start_us is not None:
            closed.append((user_id, start_us, last_us, n_prev))
        seg_start, seg_n = int(ts_us[first_start]), first_end - first_start
    seg_last = int(ts_us[first_end - 1])

    for s, e in zip(starts[1:], ends[1:]):
        closed.append((user_id, seg_start, seg_last, seg_n))
        seg_start, seg_last, seg_n = int(ts_us[s]), int(ts_us[e - 1]), int(e - s)

    state.update((seg_start, seg_last, seg_n))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                "n_events": [c[3] for c in closed],
            }
        )


def stream_sessionize(spark: SparkSession, events_path: str) -> DataFrame:
    """Run the bounded event table through the stateful sessionizer and
    return the closed sessions as a batch DataFrame.

    Note: sessions still open at end-of-input are (correctly) not
    emitted — an unbounded stream would close them via the processing-
    time timeout path.
    """
    from qaapi_spark.streaming.epochs import run_to_memory
    from qaapi_spark.streaming.incremental import _linked_events

    _, open_stream = _linked_events(spark, events_path, "events_sess_")
    sessions = (
        open_stream()
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(sessions, "append")
