"""Stateful streaming sessionization (SURVEY §2.10 additive path;
``applyInPandasWithState`` keyed by user).

Semantics match the batch gap formulation in queries/streaming_q.py
(q_sessionization): a session closes after ``SESSION_GAP_MIN`` minutes of
inactivity; emitted rows are (user_id, session_id, n_events, session_start,
session_end) with session ids numbered in event-time order per user.

State per user: the running session's id, bounds, and count.  A session is
emitted when a later event arrives past the gap; each user's final session
intentionally stays open in state for a bounded (availableNow) drain —
deterministic regardless of micro-batch boundaries, hence fully
oracle-checkable as "all sessions but each user's last".

The per-user transition is :func:`_session_step`, a pure function of the
batch and the previous state; this module's ``applyInPandasWithState``
function and the ``transformWithStateInPandas`` processor
(streaming/tws_sessions.py) only read and write their state API around it.

Scale: state is O(active users).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)
STATE_SCHEMA = "session_id bigint, n_events bigint, start_us bigint, end_us bigint"

_US = 1_000_000

# The inactivity gap that closes a session, shared by the stateful
# sessionizers and the batch twins and oracles in queries/streaming_q.py.
SESSION_GAP_MIN = 30
_GAP_US = SESSION_GAP_MIN * 60 * _US


def _session_step(
    user_id, pdfs: Iterator[pd.DataFrame], session: tuple | None
) -> tuple[tuple, pd.DataFrame]:
    """Fold one user's batch of (event_id, ts) rows into its open
    ``session`` (``STATE_SCHEMA`` tuple, or None for a new user): returns
    the new open session and the frame of sessions the batch closed."""
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    # normalize to microseconds regardless of pandas datetime unit
    ts_us = rows.ts.astype("datetime64[us]").astype("int64").tolist()
    sid, n, start_us, end_us = session if session is not None else (0, 0, None, None)
    out = []
    for t in ts_us:
        if start_us is None:
            sid, n, start_us, end_us = sid + 1, 1, t, t
        elif t - end_us > _GAP_US:
            out.append((user_id, sid, n, start_us, end_us))
            sid, n, start_us, end_us = sid + 1, 1, t, t
        else:
            n += 1
            end_us = t
    closed = pd.DataFrame(
        [
            (u, s, n_, pd.Timestamp(st, unit="us"), pd.Timestamp(en, unit="us"))
            for u, s, n_, st, en in out
        ],
        columns=["user_id", "session_id", "n_events", "session_start", "session_end"],
    )
    return (sid, n, start_us, end_us), closed


def _sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    session, closed = _session_step(key[0], pdfs, state.get if state.exists else None)
    state.update(session)
    yield closed


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization over an events stream with (event_id, ts,
    user_id, ...) columns; bounded-drain contract (NoTimeout): each user's
    final open session stays in state."""
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
