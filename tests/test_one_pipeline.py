"""One schema-matching pipeline: each stage from score-and-rank to the
per-case evaluation row is written once (queries/matching.py,
operators/metrics.py) and shared by the static cases, the EHR/Synthea
benchmarks and tools/prompt_scale.py.  Source scans, no Spark session."""

from __future__ import annotations

import pathlib
import re

import scalable_data_integration_with_llms_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
REPO = ROOT.parent


def _sources(*roots: pathlib.Path) -> dict[str, str]:
    return {
        str(p.relative_to(REPO)): p.read_text()
        for root in roots
        for p in sorted(root.rglob("*.py"))
    }


def _hits(pattern: str, *roots: pathlib.Path) -> list[tuple[str, int]]:
    rx = re.compile(pattern)
    counts = [(name, len(rx.findall(src))) for name, src in _sources(*roots).items()]
    return [c for c in counts if c[1]]


def test_one_score_and_rank_call():
    # every preference frame, in the package and in the tools, is built by
    # one call of the mock scorer
    calls = _hits(r"(?<!def )\bmock_score_candidates\(", ROOT, REPO / "tools")
    assert calls == [(f"{ROOT.name}/queries/matching.py", 1)]


def test_one_seed_dropout():
    assert _hits(r'det_rand\(F\.col\("seed"\)', ROOT) == [
        (f"{ROOT.name}/queries/matching.py", 1)
    ]


def test_exact_mean_only_in_metrics():
    # (sum of micro-rounded values) / 1e6 / n, the exact cross-case mean
    files = {name for name, _ in _hits(r"(1_000_000\.0\)|1e6)\)? / F\.count\(", ROOT, REPO / "tools")}
    assert files == {f"{ROOT.name}/operators/metrics.py"}


def test_one_levenshtein():
    assert _hits(r"def _levenshtein\b", ROOT) == []


def test_no_partition_knob_on_the_memo():
    word = "scorer" + "_partitions"  # split, so this file does not match
    assert _hits(word, ROOT, REPO / "tools", REPO / "tests") == []
