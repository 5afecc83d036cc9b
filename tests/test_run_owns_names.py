"""Every run owns its names: a query registers no temp view, stream-query
name or scratch directory that another run could read, replace, stop or
delete, and leaves none behind.  So two threads can run the same query on
one session at once, and a killed process's scratch goes at the next
process's first use."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import scalable_data_integration_with_llms_spark as pkg
from scalable_data_integration_with_llms_spark.caching import release_scoped
from scalable_data_integration_with_llms_spark.queries import QUERIES

ROOT = pathlib.Path(pkg.__file__).parent
REPO = ROOT.parent
SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

# queries that shared a view name, a stream name or a sink table between runs
RACED = [
    "q_above_avg_orders",
    "q_notin_null_semantics",
    "q_events_rollup_multires",
    "q_mapping_map_pk",
    "q_mapping_overlap",
    "q_stream_dedup",
    "q_stream_hourly",
    "q_exactly_once_sink",
]

# every query that registers a view, drains a stream or writes scratch
TOUCHED = RACED + [
    "q_udtf_tokens",
    "q_mapping_e2e",
    "q_mapping_pass_rate",
    "q_stream_enriched",
    "q_stream_stream_join",
    "q_sessionization_stream",
    "q_stream_corpus_ingest",
    "q_stream_cdc_apply",
    "q_stream_topk_types",
    "q_stream_near_dup_gate",
    "q_stream_kmv_distinct",
    "q_sink_compaction",
    "q_sink_roundtrip",
    "q_dataset_loaders",
]


def _rows(spark, name: str, sf_dir: str) -> list[str]:
    try:
        return sorted(map(str, QUERIES[name](spark, sf_dir).collect()))
    finally:
        release_scoped()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", TOUCHED)
def test_query_leaves_no_view_or_stream(spark, name):
    views, streams = _temp_views(spark), [q.id for q in spark.streams.active]
    assert _rows(spark, name, SF_DIRS[0])
    assert _temp_views(spark) == views
    assert [q.id for q in spark.streams.active] == streams


@pytest.mark.parametrize("name", RACED)
def test_two_threads_get_their_own_rows(spark, name):
    """Two threads run ``name`` at once, one per sf dir; each gets exactly
    the rows a sequential run of its sf dir gets, and neither raises."""
    want = [_rows(spark, name, sf) for sf in SF_DIRS]
    gate = threading.Barrier(len(SF_DIRS), timeout=120)

    def run(sf_dir: str) -> list[str]:
        gate.wait()
        return _rows(spark, name, sf_dir)

    with ThreadPoolExecutor(max_workers=len(SF_DIRS)) as pool:
        got = list(pool.map(run, SF_DIRS, timeout=900))
    assert got[0] == want[0]
    assert got[1] == want[1]


def test_killed_process_scratch_goes_at_next_first_use(tmp_path):
    """A process killed by SIGKILL runs no exit hook, so its scratch root
    stays; the next process's first scratch use removes it, and its own
    root goes when it exits."""
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    killed = subprocess.run(
        [sys.executable, "-c",
         "import os, signal\n"
         "from scalable_data_integration_with_llms_spark import scratch\n"
         "print(scratch.new_dir('sdi_ckpt_x_'), flush=True)\n"
         "os.kill(os.getpid(), signal.SIGKILL)\n"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert killed.returncode == -9
    left = pathlib.Path(killed.stdout.strip())
    assert left.is_dir() and left.parent.parent == tmp_path
    nxt = subprocess.run(
        [sys.executable, "-c",
         "import os\n"
         "from scalable_data_integration_with_llms_spark import scratch\n"
         f"assert os.path.isdir({str(left.parent)!r})\n"
         "scratch.root()\n"
         f"assert not os.path.exists({str(left.parent)!r})\n"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert nxt.returncode == 0, nxt.stderr
    assert list(tmp_path.iterdir()) == []


def test_first_use_from_many_threads_makes_one_root(tmp_path):
    """Threads (more than cores) that make scratch dirs at once in a fresh
    process all land under one root, the only one it makes."""
    code = (
        "import os, sys\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from scalable_data_integration_with_llms_spark import scratch\n"
        "sys.setswitchinterval(1e-6)\n"
        "with ThreadPoolExecutor(max_workers=16) as pool:\n"
        "    dirs = list(pool.map(scratch.new_dir, ['d_'] * 64, timeout=60))\n"
        "assert {os.path.dirname(d) for d in dirs} == {scratch.root()}, dirs\n"
        "assert len(set(dirs)) == 64\n"
        "assert len(os.listdir(os.path.dirname(scratch.root()))) == 1\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert list(tmp_path.iterdir()) == []


def _hits(pattern: str, root: pathlib.Path) -> set[str]:
    rx = re.compile(pattern)
    return {str(p.relative_to(root)) for p in root.rglob("*.py") if rx.search(p.read_text())}


def test_no_shared_names_in_source():
    assert not _hits(r"createOrReplaceTempView", ROOT / "queries")
    for tree in (ROOT, REPO / "tests", REPO / "tools"):  # split: not to match this file
        assert not _hits("view" + "_ns", tree), tree
    assert not _hits(r"\bregister_views\b", ROOT)
    assert _hits(r"mkdtemp\(", ROOT) == {"scratch.py"}
    assert _hits(r"\batexit\.", ROOT) == {"scratch.py"}
