"""Custom stateful streaming operator: incremental sessionization via
applyInPandasWithState (the guide's custom-stateful-operator slot).

Per user, state carries (last_ts_epoch, n_sessions, n_events) across
micro-batches; a new session starts when the gap to the previous event
exceeds `gap_sec`. Each batch emits the user's running totals; the final
emission must equal the batch sessionization (queries.q05_sessionize) when
events arrive in event-time order per user — verified by
tests/test_stateful_streaming.py with a multi-file time-ordered stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_SEC = 1800

OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long"
STATE_SCHEMA = "last_ts double, n_sessions long, n_events long"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_ts, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0)
    )
    # a group larger than one Arrow batch arrives as MULTIPLE chunks in
    # shuffled-partition order — sorting per chunk would mis-order events
    # across chunk boundaries, so concatenate the batch's chunks first and
    # sort once (state size stays bounded by per-user events per batch)
    chunks = [c for c in pdfs if len(c)]
    pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
    if len(pdf):
        import numpy as np

        # a NaT would cast to INT64_MIN below and silently corrupt the
        # session counts; fail loudly, naming the user
        if pdf["ts"].isna().any():
            raise ValueError(f"user {key[0]}: event with a null ts")
        pdf = pdf.sort_values(["ts", "event_id"])
        # whole seconds, floored: pre-epoch times round down like Spark's
        # unix_timestamp, which the batch q05 semantics use. Vectorized:
        # the previous per-event Python loop paid a Timestamp.timestamp()
        # call per row (~1M rows per run at bench scale); the gap test
        # over adjacent pairs + the carry-in comparison against the
        # state's last_ts is exactly the loop's session-increment count.
        t = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        n_sessions += int((np.diff(t) > GAP_SEC).sum())
        if last_ts is None or t[0] - last_ts > GAP_SEC:
            n_sessions += 1
        last_ts = int(t[-1])
        n_events += len(t)
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def sessionize_stateful(events_stream: DataFrame) -> DataFrame:
    return (
        events_stream
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
