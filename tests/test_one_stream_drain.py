"""One streaming drain: every stream query in the package starts, drains
and cleans up through the one lifecycle in streaming/events.py, each
streaming stage is written once, and the drain and sessionizer values that
no caller varies are constants.  Source scans, no Spark session."""

from __future__ import annotations

import ast
import pathlib
import re

import scalable_data_integration_with_llms_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent


def _hits(pattern: str) -> dict[str, int]:
    rx = re.compile(pattern)
    out = {}
    for p in sorted(ROOT.rglob("*.py")):
        n = len(rx.findall(p.read_text()))
        if n:
            out[str(p.relative_to(ROOT))] = n
    return out


def test_stream_queries_start_and_drain_only_in_events():
    assert set(_hits(r"\.writeStream\b")) == {"streaming/events.py"}
    assert set(_hits(r"awaitTermination\(")) == {"streaming/events.py"}


def test_no_drain_or_sessionizer_knobs_under_streaming():
    params = set()
    for p in sorted((ROOT / "streaming").glob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params |= {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    assert not params & {"use_checkpoint", "gap_minutes", "watermark"}


def test_wall_hour_window_written_once():
    assert _hits(r'F\.window\("ts_wall", "1 hour"\)') == {"streaming/events.py": 1}


def test_watermark_delay_written_once():
    assert _hits(r'"2 hours"') == {"streaming/events.py": 1}


def test_contamination_shingles_written_once():
    assert _hits(r"ngram_strings\(words, 4\)") == {"queries/text_q.py": 1}
