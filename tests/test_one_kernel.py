"""One copy of each kernel: the Bloom filter's word kernels live only in
operators/sketch.py, the MinHash band signature is built in one place for
batch and stream, and each stateful streaming operator's per-key
transition is one module-level function called by both of its state-API
adapters (``applyInPandasWithState`` and ``transformWithStateInPandas``).
Source and bytecode scans, no Spark session."""

from __future__ import annotations

import importlib.util
import pathlib
import re

import scalable_data_integration_with_llms_spark as pkg

PKG = "scalable_data_integration_with_llms_spark"
ROOT = pathlib.Path(pkg.__file__).parent


def _sources() -> dict[str, str]:
    return {
        str(p.relative_to(ROOT)): p.read_text() for p in sorted(ROOT.rglob("*.py"))
    }


def _files_matching(pattern: str) -> list[str]:
    rx = re.compile(pattern)
    return [name for name, src in _sources().items() if rx.search(src)]


def test_bloom_word_kernels_only_in_sketch():
    # the array literal of the 64 single-bit words, and the per-word BIT_OR
    # aggregation that builds the bitmap
    assert _files_matching(r"F\.lit\(\s*\[[^\]]*range\(64\)") == ["operators/sketch.py"]
    assert _files_matching(r"\bbit_or\s*\(") == ["operators/sketch.py"]


def test_minhash_band_signature_built_once():
    rx = re.compile(r'F\.md5\(\s*F\.concat_ws\(\s*"\|"')
    hits = [(name, len(rx.findall(src))) for name, src in _sources().items()]
    assert [h for h in hits if h[1]] == [("operators/dedup.py", 1)]


def test_no_runtime_filter_module():
    assert importlib.util.find_spec(f"{PKG}.operators.runtime_filter") is None
    assert not list(ROOT.rglob("runtime_filter.py"))


def _calls(fn, step) -> bool:
    """``fn`` names ``step`` as a global and that global is ``step``."""
    name = step.__name__
    return name in fn.__code__.co_names and fn.__globals__.get(name) is step


def test_session_adapters_share_one_step():
    from scalable_data_integration_with_llms_spark.streaming import sessions, tws_sessions

    step = sessions._session_step
    assert step.__qualname__ == step.__name__  # module level
    assert _calls(sessions._sessionize, step)
    assert _calls(tws_sessions.SessionProcessor.handleInputRows, step)


def test_gate_adapters_share_one_step():
    from scalable_data_integration_with_llms_spark.streaming import near_dup_gate

    step = near_dup_gate._gate_step
    assert step.__qualname__ == step.__name__
    assert _calls(near_dup_gate._gate, step)
    assert _calls(near_dup_gate.make_gate_processor().handleInputRows, step)
