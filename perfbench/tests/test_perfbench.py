"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Each end-to-end test starts ``perfbench/run.py`` in a fresh process with
``--seconds 1`` (one measured pass), so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
LAYERS = {"session", "queries", "sources", "catalog", "llm", "operators", "plans", "streaming",
          "caching", "spark"}


def bench(root: str, workload: str, trace: int, seed: int = 0) -> tuple[dict, str]:
    """Run the benchmark from ``root``; returns its result object and stdout."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def report(root: str, workload: str, seed: int = 0) -> dict:
    with open(os.path.join(root, "perfbench", ".work", f"report-{workload}-{seed}.json")) as f:
        return json.load(f)


# -- without Spark --------------------------------------------------------------

def test_fingerprint_ignores_row_and_column_order():
    a = check.fingerprint(["x", "y"], [(1, "a"), (2.0, None)])
    b = check.fingerprint(["y", "x"], [(float("nan"), 2), ("a", 1)])
    assert a == b
    assert a != check.fingerprint(["x", "y"], [(1, "a"), (3, None)])


def test_self_time_subtracts_the_union_of_children():
    def span(sid, parent, start, end):
        s = tracing.Span(sid, "x.y", parent, None)
        s.start, s.end = start, end
        return s

    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 3.0, 6.0),
             span(3, 1, 1.5, 2.0)]
    own = tracing.self_times(spans)
    assert own[0] == pytest.approx(5.0)  # children cover 1..6
    assert own[1] == pytest.approx(2.5)
    assert own[2] == pytest.approx(3.0)


def test_tail_rank_keeps_ten_samples_beyond():
    value, pct, beyond = run.percentile_rank([float(i) for i in range(1, 41)])
    assert (value, pct, beyond) == (30.0, 75.0, 10)


def test_workloads_cover_every_layer():
    spec = run.load_spec()
    assert set(spec["workloads"]) == set(WORKLOADS)
    assert set().union(*(set(w["layers"]) for w in spec["workloads"].values())) == LAYERS
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    assert {m for row in spec["layer_map"] for m in row["metrics"]} == per_layer


@pytest.mark.parametrize("seed", [0, 1000])  # stored and not stored
def test_without_the_program_fails_and_leaves_no_process(tmp_path, seed):
    root = str(tmp_path)
    shutil.copytree(BENCH, os.path.join(root, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    p = subprocess.run(
        [sys.executable, "-c", REAPER, sys.executable, "perfbench/run.py",
         "--workload", WORKLOADS[0], "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=180)
    code, left = json.loads(p.stderr.strip().splitlines()[-1])
    assert code != 0
    assert '"correct"' not in p.stdout
    assert left == 0


# Runs argv[1:] as the child of a subreaper, so any process the child leaves
# behind is re-parented to it; prints [child's exit code, processes left].
REAPER = """
import ctypes, json, os, subprocess, sys
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)
code = subprocess.run(sys.argv[1:]).returncode
left = 0
while True:
    try:
        os.waitpid(-1, 0)
    except ChildProcessError:
        break
    left += 1
print(json.dumps([code, left]), file=sys.stderr)
"""


# -- end to end -----------------------------------------------------------------

@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    result, out = bench(ROOT, workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in out.splitlines())
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert any(line.startswith("fail_ratio") for line in out.splitlines())


def test_corrupted_fingerprint_counts_as_failed(tmp_path):
    root = str(tmp_path)
    shutil.copytree(BENCH, os.path.join(root, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    pkg = "scalable_data_integration_with_llms_spark"
    os.symlink(os.path.join(ROOT, pkg), os.path.join(root, pkg))
    store = os.path.join(root, "perfbench", "fingerprints.json")
    with open(store) as f:
        kept = json.load(f)
    victim = run.load_spec()["workloads"]["relational"]["queries"][-1]
    kept["seeds"]["0"][victim]["sha256"] = "0" * 64
    with open(store, "w") as f:
        json.dump(kept, f)
    result, _ = bench(root, "relational", trace=0)
    assert not result["correct"]
    assert result["failed"] > 0
    rep = report(root, "relational")
    assert rep["fail_ratio"] > 0
    assert {f["query"] for f in rep["failures"]} == {victim}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_records_every_layer_it_uses(workload):
    result, _ = bench(ROOT, workload, trace=1)
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    traced = report(ROOT, workload)["traced"]
    assert traced["missing_layers"] == []
    layers = run.load_spec()["workloads"][workload]["layers"]
    for layer in set(layers) - {"spark"}:
        assert traced["layer_calls"].get(layer, 0) > 0, layer
    with open(traced["spans_file"]) as f:
        dump = json.load(f)
    assert dump["spans"] and dump["jobs"]
