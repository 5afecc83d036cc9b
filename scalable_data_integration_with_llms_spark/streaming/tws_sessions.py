"""Sessionization on Spark 4's ``transformWithStateInPandas`` API — the
successor to ``applyInPandasWithState`` (streaming/sessions.py keeps the
classic formulation).  Both call the same per-user step
(``sessions._session_step``), so semantics are identical and both share
the batch lag-gap oracle.

transformWithState runs on the RocksDB state store (required by the API),
which is also the right engine choice at scale: state lives off-heap with
incremental-snapshot checkpointing, so per-user session state survives
100×-more keys than the default HDFS-backed in-memory store.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .sessions import _US, OUT_SCHEMA, STATE_SCHEMA, _session_step


class SessionProcessor(StatefulProcessor):
    """Per-user gap sessionizer: value state holds the open session."""

    def __init__(self, gap_minutes: int = 30) -> None:
        self._gap_us = gap_minutes * 60 * _US

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._session = handle.getValueState("session", STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        prev = self._session.get() if self._session.exists() else None
        session, closed = _session_step(key[0], rows, prev, self._gap_us)
        self._session.update(session)
        yield closed

    def close(self) -> None:
        pass


def sessionize_stream_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization via transformWithStateInPandas (timeMode
    none: bounded-drain contract, open sessions stay in state)."""
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(gap_minutes),
            outputStructType=OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
