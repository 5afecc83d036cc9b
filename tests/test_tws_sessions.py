"""transformWithStateInPandas sessionization — runs only where the TWS
runtime (google.protobuf for the state-server channel) exists; the
applyInPandasWithState twin in test_streaming_state.py keeps stateful
coverage either way."""

import importlib.util

import pytest

try:
    HAS_TWS = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    HAS_TWS = False


@pytest.mark.skipif(not HAS_TWS, reason="TWS runtime needs google.protobuf")
def test_tws_matches_oracle(spark, duck):
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_sessionization_tws")


def test_tws_registration_matches_runtime(spark):
    """The query is declared iff the runtime can execute it — never a
    declared-but-crashing entry in the driver contract."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    assert ("q_sessionization_tws" in QUERIES) == HAS_TWS


def test_session_processor_semantics():
    """The processor's per-batch logic, exercised directly (no streaming
    runtime needed): sessions close on gap, the last stays open in state."""
    import pandas as pd

    from scalable_data_integration_with_llms_spark.streaming.tws_sessions import (
        SessionProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

    proc = SessionProcessor()
    handle = FakeHandle()
    proc.init(handle)

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "user_id": [7, 7, 7],
            "event_id": [1, 2, 3],
            "ts": [base, base + pd.Timedelta(minutes=10), base + pd.Timedelta(hours=2)],
        }
    )
    out = pd.concat(list(proc.handleInputRows((7,), iter([pdf]), None)))
    # first session (2 events) closed by the 2-hour-later event
    assert out.user_id.tolist() == [7] and out.session_id.tolist() == [1]
    assert out.n_events.tolist() == [2]
    # the second session stays open in state
    sid, n, start_us, end_us = handle.state.get()
    assert (sid, n) == (2, 1)

    # a second batch within the gap extends the open session, emits nothing
    pdf2 = pd.DataFrame(
        {
            "user_id": [7],
            "event_id": [4],
            "ts": [base + pd.Timedelta(hours=2, minutes=5)],
        }
    )
    out2 = pd.concat(list(proc.handleInputRows((7,), iter([pdf2]), None)))
    assert out2.empty
    sid, n, _, _ = handle.state.get()
    assert (sid, n) == (2, 2)


def test_tws_registration_under_forced_runtime():
    """Regression for the r6 ADVICE bug: _register_tws() used to run
    mid-module, before _NEAR_DUP_GATE_ORACLE was bound, so any
    protobuf-capable environment raised NameError at import and lost the
    whole registry.  Re-exec the module source with the runtime gate
    forced True against a scratch registry: registration must succeed and
    declare both TWS twins — non-vacuous even where protobuf is absent."""
    import types

    import scalable_data_integration_with_llms_spark.queries.streaming_q as sq
    from scalable_data_integration_with_llms_spark.queries import registry as reg

    src = open(sq.__file__).read()
    src = src.replace(
        'return importlib.util.find_spec("google.protobuf") is not None',
        "return True",
    )
    saved = dict(reg.QUERIES)
    reg.QUERIES.clear()
    try:
        mod = types.ModuleType("streaming_q_forced_tws")
        mod.__package__ = "scalable_data_integration_with_llms_spark.queries"
        exec(compile(src, "streaming_q_forced_tws", "exec"), mod.__dict__)
        assert "q_sessionization_tws" in reg.QUERIES
        assert "q_stream_near_dup_gate_tws" in reg.QUERIES
    finally:
        reg.QUERIES.clear()
        reg.QUERIES.update(saved)
