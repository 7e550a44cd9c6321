"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (north-star surface: arbitrary per-key state
the built-in windowed aggregates can't express).

Semantics match the batch ``sessionize_events`` query: events for a user
belong to one session until a gap larger than ``gap`` separates them.
Sessions are emitted when they *close* — either a later event proves the
gap, or the event-time watermark passes sessionEnd + gap (timeout).

State per user: the open session's (start, end, count). Memory is O(1)
per active user; the watermark bounds "active". This is the standard
arbitrary-stateful-processing pattern (Spark docs: flatMapGroupsWithState
/ applyInPandasWithState).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
STATE_SCHEMA = "start long, end long, n long"  # epoch-µs + count


def sessionize_stateful(
    ticks: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming frame (user_id, ts timestamp) → closed sessions.

    ``ticks`` must carry an event-time column ``ts``; late data beyond
    ``watermark`` is dropped by the engine before reaching state.
    """
    gap_us = gap_seconds * 1_000_000

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                s, e, n = state.get
                closed.append((s, e, n))
                state.remove()
        else:
            ts_list: list[int] = []
            for pdf in pdfs:
                ts_list.extend(
                    int(v.value) // 1000 for v in pd.to_datetime(pdf["ts"])
                )
            ts_list.sort()
            if state.exists:
                cur = list(state.get)
            else:
                cur = None
            for t in ts_list:
                if cur is None:
                    cur = [t, t, 0]
                elif t - cur[1] > gap_us:
                    closed.append((cur[0], cur[1], cur[2]))
                    cur = [t, t, 0]
                # An in-watermark out-of-order event may precede the open
                # session's start (cross-micro-batch); batch semantics are
                # min(ts) per session, so lower the start too.
                cur[0] = min(cur[0], t)
                cur[1] = max(cur[1], t)
                cur[2] += 1
            if cur is not None:
                state.update(tuple(cur))
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return (
        ticks.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
