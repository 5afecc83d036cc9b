"""The bench protocol's noise gate (tools/bench_compare.py) and the
committed battery's run metadata — pure-Python pins, no Spark needed."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from bench_compare import effective_threshold, load_baseline  # noqa: E402


def test_effective_threshold_floor():
    # no metadata at all -> the flat floor
    assert effective_threshold("q", 2.0, {}, None) == 2.0


def test_effective_threshold_per_query_spread_raises_floor():
    # per-query spread 1.6x * margin 1.5 = 2.4 > floor
    runs = {"q": [1.0, 1.6, 1.2]}
    assert effective_threshold("q", 2.0, runs, None) == 1.6 * 1.5


def test_effective_threshold_never_below_floor():
    # tight per-query spread cannot LOWER the gate below the floor
    runs = {"q": [1.0, 1.02, 1.01]}
    assert effective_threshold("q", 2.0, runs, None) == 2.0


def test_effective_threshold_battery_spread_fallback():
    # query absent from per-run data -> the battery-total spread applies
    assert effective_threshold("other", 2.0, {"q": [1, 2]}, 1.8) == 1.8 * 1.5


def test_effective_threshold_zero_run_guard():
    # a zero minimum (degenerate timing) must not divide by zero
    assert effective_threshold("q", 2.0, {"q": [0.0, 1.0]}, None) == 2.0


def test_committed_battery_carries_run_metadata():
    """BENCH_FULL.json is the median-of-N protocol's artifact: run totals,
    the median selection, and per-query run arrays for the noise gates."""
    doc = load_baseline(os.path.join(ROOT, "BENCH_FULL.json"))
    runs = doc["runs"]
    assert runs["n"] >= 3
    assert len(runs["totals"]) == runs["n"]
    assert runs["selected"] == "median_total"
    # the selected run's total is the committed headline value
    assert doc["value"] == runs["totals"][runs["selected_index"]]
    # median by construction: at least one total on each side
    others = sorted(runs["totals"])
    assert others[len(others) // 2] == doc["value"]
    qr = doc["queries_runs"]
    assert set(qr) == set(doc["queries"])
    assert all(len(v) == runs["n"] for v in qr.values())
    # the per-query medians' source run must contain the committed numbers
    sel = runs["selected_index"]
    assert all(doc["queries"][k] == qr[k][sel] for k in qr)


def test_rotate_window_parses_two_digit_rounds(tmp_path):
    """ADVICE r8: CORRECTNESS_r10.json and beyond must be counted (the old
    glob/split stopped at single-digit rounds), while FULL/SF01/ADVERSARIAL
    variants stay excluded."""
    from rotate_window import newest_green_rounds

    green = {"q_x": {"rows_match": True, "schema_match": True, "hash_match": True}}
    red = {"q_x": {"rows_match": False, "schema_match": True, "hash_match": False}}
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(green))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(green))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps(red))
    # variant artifacts must not count as driver rounds
    (tmp_path / "CORRECTNESS_FULL_r13.json").write_text(json.dumps(green))
    (tmp_path / "CORRECTNESS_ADVERSARIAL_r14.json").write_text(json.dumps(green))
    latest = newest_green_rounds(root=str(tmp_path))
    assert latest == {"q_x": 10}

    # the verification ledger: a default-axis sf0.01 row newer than every
    # driver file moves q_x out of the stale block; other axes and scales
    # do not count
    from rotate_window import propose_window

    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps({"q_y": green["q_x"]}))
    latest = newest_green_rounds(root=str(tmp_path))
    assert propose_window(latest, ["q_x", "q_y"], [], 1) == ["q_x"]

    def row(rnd, axis=(), sf_dir="/root/testdata/sf0.01"):
        return {"axis": list(axis), "sf_dir": sf_dir, "round": rnd, "commit": "c0ffee0",
                "rows_sha256": "0" * 64}

    (tmp_path / "VERIFIED.json").write_text(json.dumps({
        "q_x": [row(16), row(20, ["SDI_ANSI=1"]), row(21, sf_dir="/root/testdata/sf0.001")],
        "q_y": [row(30, ["SDI_ANSI=1"])],
    }))
    latest = newest_green_rounds(root=str(tmp_path))
    assert latest == {"q_x": 16, "q_y": 11}
    assert propose_window(latest, ["q_x", "q_y"], [], 1) == ["q_y"]


def test_parse_extra_conf():
    """SDI_EXTRA_CONF sweep hook: k=v;k=v with trimming, empty segments
    skipped, values may contain '='."""
    from scalable_data_integration_with_llms_spark.session import parse_extra_conf

    assert parse_extra_conf("") == []
    assert parse_extra_conf(" a=1 ; ;b = x=y ") == [("a", "1"), ("b", "x=y")]
    # ADVICE r9: a segment without '=' (typo'd sweep spec) fails loudly
    # instead of silently setting the conf to ''
    import pytest

    with pytest.raises(ValueError, match="malformed"):
        parse_extra_conf("spark.foo")
    with pytest.raises(ValueError, match="malformed"):
        parse_extra_conf("a=1;spark.bar;b=2")
    with pytest.raises(ValueError, match="malformed"):
        parse_extra_conf("=v")  # empty key is malformed too


def test_drift_ratio_both_anchors():
    from bench_compare import drift_ratio

    base = {"calibration": {"sec": 1.0}}
    now = {"calibration": {"sec": 1.25}}
    assert drift_ratio(base, now) == (1.25, "calibration")


def test_drift_ratio_prefers_multicore_anchor():
    """When both batteries carry the r13 multi-core anchor, it wins over
    the single-core row (single-core and multi-core speed drift
    independently on a shared VM); mismatched mt work strings fall back
    to the single-core anchor, and mismatched single-core work strings
    yield None (ADVICE r12)."""
    from bench_compare import drift_ratio

    base = {"calibration": {"sec": 1.0, "work": "w1"},
            "calibration_mt": {"sec": 2.0, "work": "wmt"}}
    now = {"calibration": {"sec": 1.5, "work": "w1"},
           "calibration_mt": {"sec": 4.0, "work": "wmt"}}
    assert drift_ratio(base, now) == (2.0, "calibration_mt")  # mt 4.0/2.0, not 1.5
    now_badmt = {"calibration": {"sec": 1.5, "work": "w1"},
                 "calibration_mt": {"sec": 4.0, "work": "OTHER"}}
    # falls back to single-core, and says so
    assert drift_ratio(base, now_badmt) == (1.5, "calibration")
    now_badboth = {"calibration": {"sec": 1.5, "work": "OTHER"},
                   "calibration_mt": {"sec": 4.0, "work": "OTHER"}}
    assert drift_ratio(base, now_badboth) == (None, None)


def test_drift_ratio_missing_or_zero_anchor_is_none():
    from bench_compare import drift_ratio

    assert drift_ratio({}, {"calibration": {"sec": 1.2}}) == (None, None)
    assert drift_ratio({"calibration": {"sec": 1.2}}, {}) == (None, None)
    # zero sec (degenerate timing) must read as missing, not divide
    assert drift_ratio({"calibration": {"sec": 0.0}},
                       {"calibration": {"sec": 1.2}}) == (None, None)


def test_committed_battery_carries_calibration_anchor():
    """The committed BENCH_FULL.json must carry the r11+ drift anchor so
    the NEXT round's compare can normalize host drift."""
    doc = load_baseline(os.path.join(ROOT, "BENCH_FULL.json"))
    cal = doc.get("calibration") or {}
    assert cal.get("sec", 0) > 0 and len(cal.get("runs", [])) == 3


def test_infer_round_ignores_uncommitted_bench_files(tmp_path):
    """The r14 blind spot: the driver writes its own BENCH_r{N}.json to the
    working dir BEFORE the low-core scaling re-run, and round inference that
    lists the directory then flips parity mid-round.  Round must come from
    git-tracked files only; the listing is the no-git fallback."""
    import subprocess

    # a git repo whose COMMITTED state says round 7...
    repo = tmp_path / "repo"
    repo.mkdir()
    subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
    (repo / "BENCH_r07.json").write_text("{}")
    subprocess.run(["git", "add", "BENCH_r07.json"], cwd=repo, check=True)
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t", "commit", "-qm", "x"],
        cwd=repo,
        check=True,
    )
    # ...and an UNCOMMITTED same-round artifact the driver just wrote
    (repo / "BENCH_r08.json").write_text("{}")

    # run the real module from inside that repo (bench derives `here` from
    # its own __file__, so copy it in) in a clean subprocess
    import shutil

    shutil.copyfile(os.path.join(ROOT, "bench.py"), repo / "bench.py")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ROUND"}
    out = subprocess.run(
        [sys.executable, "-c", "import bench; print(bench._infer_round())"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "8", out  # 7 + 1, NOT 8 + 1

    # and without git metadata the listing fallback still works
    shutil.rmtree(repo / ".git")
    out = subprocess.run(
        [sys.executable, "-c", "import bench; print(bench._infer_round())"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "9", out  # listdir sees r08


def test_infer_round_reads_committed_tree_not_index(tmp_path, monkeypatch):
    """Round inference reads the COMMITTED tree (``git ls-tree HEAD``): a
    staged but uncommitted BENCH file is not a round yet, and a committed
    tree without BENCH files is round 1 rather than a cue to list the
    directory.  The on-disk listing is used only when git itself fails."""
    import subprocess

    import bench

    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    repo = tmp_path / "repo"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.email=t@t", "-c", "user.name=t", *args],
            cwd=repo,
            check=True,
            capture_output=True,
        )

    git("init", "-q")
    (repo / "README").write_text("x")
    git("add", "README")
    git("commit", "-qm", "no bench files yet")
    (repo / "BENCH_r5.json").write_text("{}")  # on disk, never added
    assert bench._infer_round(str(repo)) == 1

    (repo / "BENCH_r7.json").write_text("{}")
    git("add", "BENCH_r7.json")
    git("commit", "-qm", "round 7")
    (repo / "BENCH_r9.json").write_text("{}")
    git("add", "BENCH_r9.json")  # staged, not committed
    assert bench._infer_round(str(repo)) == 8

    # git fails (not a repository any more): fall back to the listing
    import shutil

    shutil.rmtree(repo / ".git")
    assert bench._infer_round(str(repo)) == 10


def test_line_core_rides_both_parities():
    """Consecutive rounds must always share per-query timings on the driver
    line: every LINE_CORE row is reported in BOTH parity subsets."""
    import bench

    r02 = bench.HEADLINE[: bench._R02_HEADLINE_N]
    r3p = bench.HEADLINE[bench._R02_HEADLINE_N :]
    for subset in (r02, r3p):
        reported = subset + [n for n in bench.LINE_CORE if n not in subset]
        assert set(bench.LINE_CORE) <= set(reported)
    # and the two halves of LINE_CORE straddle the rotation as designed
    assert set(bench.LINE_CORE) & set(r02) and set(bench.LINE_CORE) & set(r3p)
