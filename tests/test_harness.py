"""The one measurement harness (tools/harness.py): its cache-release
policy, its end-of-sweep reset, that no other timing tool keeps its own
timer, and the fresh-process timer's output contract."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from harness import end_sweep, timed  # noqa: E402
from scalable_data_integration_with_llms_spark.caching import (  # noqa: E402
    _ALL_MEMOS,
    SessionMemo,
    release_scoped,
    scoped_count,
    scoped_persist,
)


def test_timed_releases_scoped_persists_once_after_all_runs(spark):
    release_scoped()
    seen = []

    def run():
        seen.append(scoped_count())
        scoped_persist(spark.range(3)).collect()

    runs = timed(run, 3)
    assert len(runs) == 3 and all(t >= 0 for t in runs)
    assert seen == [0, 1, 2]
    assert scoped_count() == 0


def test_end_sweep_empties_cache_and_memos(spark):
    memo = SessionMemo()
    memo.get_or_build(spark, lambda: spark.range(5).selectExpr("id * 3 AS x"))
    spark.range(7).persist().count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    end_sweep(spark)
    assert cache.isEmpty()
    assert all(not m._entries for m in _ALL_MEMOS)


def test_only_the_harness_reads_the_clock():
    files = [os.path.join(ROOT, "bench.py")] + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    timers = sorted(
        os.path.relpath(f, ROOT) for f in files if "perf_counter" in open(f).read()
    )
    assert timers == ["tools/harness.py"]


def test_bench_one_prints_one_json_line():
    from conftest import SF_DIR

    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_one.py"),
         "q6_forecast_revenue", "--sf-dir", SF_DIR, "--runs", "2"],
        capture_output=True, text=True, cwd=ROOT, env=env, timeout=600, check=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert set(rec) == {"query", "runs", "best", "median", "sf_dir"}
    assert rec["query"] == "q6_forecast_revenue" and rec["sf_dir"] == SF_DIR
    assert len(rec["runs"]) == 2
    assert rec["median"] in rec["runs"] and rec["best"] == min(rec["runs"])
