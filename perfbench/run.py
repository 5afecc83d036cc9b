#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public query callables.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --regen-fingerprints

Run from the repository root.  One driver thread runs the workload's
queries, ``QUERIES[name](spark, data_dir)`` followed by ``collect()``, on
``local[<cores>]``; the next query is sent only after the previous
``collect()`` returned.  The input tables are generated from ``--seed``
(``datagen.py``); the seed also permutes the query order of the passes.

A run, in order:

1. set-up, three times: ``get_spark()`` plus one execution of the
   workload's first query; the first starts a cold JVM and is timed from
   process start, the other two follow ``spark.stop()`` in the same
   process and are scaled like the query latencies below.  ``setup_s`` is
   their median;
2. one warm-up pass (checked, not timed);
3. the measured passes: ``round(seconds / nominal_pass_s)`` of them, at
   least one, so every run of a workload makes the same executions.  Every
   second pass runs the order of the pass before it reversed.  The
   session memos are dropped before each pass, and the host-speed anchor
   is read before each query and after the last one of a pass; every
   latency is scaled by the two readings around it (see ``ANCHOR_ROWS``);
4. with ``--trace 1``, the same number of passes again with every layer of
   the package wrapped (``tracing.py``); the per-layer metrics come from
   these, the tracing overhead is their median pass time minus the
   untraced one.

``driver_peak_rss_mb`` is the peak resident memory of this process, the
Python side of the Spark driver.

Every execution is checked against the order-insensitive fingerprint of
its DuckDB oracle (``check.py``); an exception or a mismatch counts as a
failed execution.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The lines
before it print every metric by name with its unit.  Scratch files (data,
Spark local dirs, sink output, span dumps) go to ``perfbench/.work/``.

On every way out, the run stops the JVM and every other process it started,
directly or not, and waits for each to end before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3
# Host-speed anchor: two JVM spins on every core that no package code
# touches, a long one (ANCHOR_ROWS[0] rows per core, compute throughput)
# and a tiny one (ANCHOR_ROWS[1], the fixed cost of planning and
# scheduling a job); the anchor is the geometric mean of their times.  The
# host is a shared VM whose speed swings by tens of percent within seconds,
# so each measured latency is reported at a reference speed: raw time *
# ANCHOR_REF_S / (mean of the anchors just before and just after it).  On a
# 4-core VM, over repeated passes of the relational queries, this left a
# coefficient of variation of pass time of 4%, against 22% for raw times
# and 6-8% for either spin alone.  ANCHOR_REF_S fixes the reference speed;
# the anchor read 0.14-0.19 s at the median on that VM (Debian 12,
# OpenJDK 17, Spark 4.1).  Raw times and anchor readings are in the run
# report.
ANCHOR_ROWS = (25_000_000, 500)
ANCHOR_REF_S = 0.14
# the seeds whose fingerprints are kept in fingerprints.json
STORED_SEEDS = range(32)


def load_spec() -> dict:
    """workloads.json (query lists, layers, layer map) plus the metric
    names and units of BENCHMARK.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec["metrics"] = {k: bench[k] for k in ("end_to_end", "per_layer")}
    return spec


def configure_env(tmp: str) -> None:
    """Process environment for the engine: every core, scratch under
    ``tmp``, and none of the engine's adversarial sweep hooks."""
    for k in ("SDI_MASTER", "SDI_SESSION_TZ", "SDI_ANSI", "SDI_TASK_MAX_FAILURES",
              "SDI_FLAKY_SOURCES", "SDI_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SDI_DRIVER_MEM="2g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SDI_EXTRA_CONF=";".join([
            "spark.ui.showConsoleProgress=false",
            f"spark.local.dir={tmp}",
            f"spark.sql.warehouse.dir={tmp}/warehouse",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        ]),
    )
    import tempfile

    tempfile.tempdir = tmp  # the sink queries write under tempfile.mkdtemp


def percentile_rank(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``beyond`` samples
    above it: (value, percentile, samples above).  With fewer than
    ``beyond + 1`` samples it is the minimum."""
    xs = sorted(values)
    k = max(1, len(xs) - beyond)  # 1-based rank
    return xs[k - 1], 100.0 * k / len(xs), len(xs) - k


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


class Runner:
    """Runs and checks queries; owns the session of one benchmark run."""

    def __init__(self, data_dir: str, expected: dict[str, dict]):
        from scalable_data_integration_with_llms_spark.caching import clear_all_memos, release_scoped
        from scalable_data_integration_with_llms_spark.queries import QUERIES
        from scalable_data_integration_with_llms_spark.session import get_spark

        self.queries, self.get_spark = QUERIES, get_spark
        self.release_scoped, self.clear_all_memos = release_scoped, clear_all_memos
        self.data_dir, self.expected = data_dir, expected
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.rec = None  # SpanRecorder while a traced pass runs
        self.last_rows = 0

    def start(self) -> float:
        t = time.perf_counter()
        self.spark = self.get_spark("perfbench")
        return time.perf_counter() - t

    def stop(self) -> None:
        self.clear_all_memos()
        self.release_scoped()
        self.spark.stop()

    def execute(self, name: str) -> float:
        """One checked execution; returns its latency (query construction,
        ``collect()`` and release of its query-scoped caches)."""
        import check

        self.attempted += 1
        rec = self.rec
        t = time.perf_counter()
        try:
            if rec is None:
                df = self.queries[name](self.spark, self.data_dir)
                rows = df.collect()
            else:
                rec.query = name
                try:
                    with rec.root("queries.build"):
                        df = self.queries[name](self.spark, self.data_dir)
                    with rec.root("queries.exec"):
                        rows = df.collect()
                finally:
                    rec.query = None
            self.release_scoped()
        except Exception as e:  # a failed execution is a result, not a crash
            self.release_scoped()
            self.failures.append({"query": name, "error": f"{type(e).__name__}: {e}"[:500]})
            return time.perf_counter() - t
        latency = time.perf_counter() - t
        self.last_rows = len(rows)
        got = check.fingerprint(df.columns, rows)
        if got != self.expected[name]:
            self.failures.append({"query": name, "error": "wrong result", "got": got,
                                  "expected": self.expected[name]})
        return latency

    def anchor(self) -> float:
        """One reading of the host-speed anchor (see ``ANCHOR_ROWS``)."""
        cores = os.cpu_count() or 1
        product = 1.0
        for rows in ANCHOR_ROWS:
            t = time.perf_counter()
            self.spark.range(0, rows * cores, 1, cores).selectExpr(
                f"sum(id % {rows} * 2654435761 % 1000003) AS s").collect()
            product *= time.perf_counter() - t
        return product ** (1 / len(ANCHOR_ROWS))

    def run_pass(self, order: list[str]) -> list[float]:
        """One pass over ``order``; the session memos are dropped first, so
        every pass rebuilds what it shares across its queries."""
        self.clear_all_memos()
        return [self.execute(name) for name in order]

    def anchored_pass(self, order: list[str]) -> tuple[list[float], list[float]]:
        """``run_pass`` with an anchor reading before each query and after
        the last; returns the latencies and the ``len(order) + 1`` readings."""
        self.clear_all_memos()
        readings, lat = [self.anchor()], []
        for name in order:
            lat.append(self.execute(name))
            readings.append(self.anchor())
        return lat, readings


def run(args, spec: dict) -> tuple[dict, list[str]]:
    """One benchmark run; returns the result object and report lines."""
    import check
    import datagen

    wl = spec["workloads"][args.workload]
    names = list(wl["queries"])
    data_dir = datagen.write_tables(args.seed, os.path.join(args.tmp, "data"))
    expected = check.expected(args.seed, data_dir, names)
    runner = Runner(data_dir, expected)
    rng = random.Random(args.seed)
    rec = None
    if args.trace:
        import tracing

        rec = tracing.SpanRecorder()

    def set_up(cold: bool) -> dict:
        t = _T0 if cold else time.perf_counter()
        if rec is None:
            start_s = runner.start()
            warm = runner.execute(names[0])
        else:
            with rec.span("session.start"):
                start_s = runner.start()
            with rec.span("session.warmup"):
                warm = runner.execute(names[0])
        return {"total_s": time.perf_counter() - t, "start_s": start_s, "warmup_s": warm}

    def shuffled():
        order = list(names)
        rng.shuffle(order)
        return order

    # the set-ups, then a warm-up pass in the session the passes use; no
    # anchor can be read before the cold JVM runs, so only the restarts are
    # scaled, by the readings around them
    setups: list[dict] = [set_up(cold=True)]
    setups[0]["scaled_s"] = setups[0]["total_s"]
    for _ in range(3):  # until the anchor's code is compiled
        runner.anchor()
    for _ in range(SETUPS - 1):
        before = runner.anchor()
        runner.stop()
        s = set_up(cold=False)
        s["scaled_s"] = s["total_s"] * 2 * ANCHOR_REF_S / (before + runner.anchor())
        setups.append(s)
    t = time.perf_counter()
    runner.run_pass(shuffled())
    warmup_pass_s = time.perf_counter() - t
    n_passes = max(1, round(args.seconds / wl["nominal_pass_s"]))
    # raw and scaled (at the reference host speed, see ANCHOR_REF_S)
    raw_passes, passes, latencies, anchors = [], [], [], []
    by_query = {n: [] for n in names}
    order: list[str] = []
    for i in range(n_passes):
        # queries that share a memo, whichever runs first builds it, take
        # both roles equally often in a pair of passes
        order = shuffled() if i % 2 == 0 else order[::-1]
        lat, readings = runner.anchored_pass(order)
        scaled = [x * 2 * ANCHOR_REF_S / (a + b) for x, a, b in zip(lat, readings, readings[1:])]
        raw_passes.append(sum(lat))
        passes.append(sum(scaled))
        latencies += scaled
        anchors.append(readings)
        for name, x in zip(order, scaled):
            by_query[name].append(x)

    tail, tail_pct, tail_beyond = percentile_rank(latencies)
    e2e = {
        "setup_s": statistics.median(s["scaled_s"] for s in setups),
        "pass_s": statistics.median(passes),
        # the median query's median latency: steadier than the median of the
        # pooled executions, which falls between two queries' clusters
        "query_p50_s": statistics.median(statistics.median(v) for v in by_query.values()),
        # a run has too few executions for a percentile above the median
        # with ten samples beyond it, so the tail is the slowest query
        "query_tail_s": max(statistics.median(v) for v in by_query.values()),
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    layer = None
    report = {"workload": args.workload, "seed": args.seed, "queries": names,
              "setups": setups, "warmup_pass_s": warmup_pass_s, "raw_passes": raw_passes,
              "passes": passes, "latencies": by_query, "anchors": anchors,
              "n_executions": len(latencies),
              "tail_rule": {"value": tail, "percentile": tail_pct, "samples_beyond": tail_beyond}}
    if rec is not None:
        layer, traced = tracing.traced_passes(
            runner, shuffled, n_passes, rec, wl["layers"],
            os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        layer["session.start_s"] = statistics.median(s["start_s"] for s in setups)
        layer["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
        layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(runner.spark)
        layer["trace.overhead_s"] = statistics.median(traced["passes"]) - statistics.median(raw_passes)
        report["traced"] = traced
        report["per_layer"] = layer
    runner.stop()

    failed = len(runner.failures)
    report.update(attempted=runner.attempted, failed=failed, failures=runner.failures,
                  fail_ratio=failed / runner.attempted, end_to_end=e2e)
    lines = [f"workload {args.workload}  seed {args.seed}  {len(names)} queries  "
             f"{n_passes} measured passes  {len(latencies)} executions"]
    units = {m["name"]: m["unit"] for m in spec["metrics"]["end_to_end"]}
    lines += [f"{k:<16} {v:.4f} {units[k]}" for k, v in e2e.items()]
    lines.append(f"{'fail_ratio':<16} {report['fail_ratio']:.4f} ({failed}/{runner.attempted})")
    lines.append(f"query_tail_s is the slowest query's median; p{tail_pct:.1f} of the "
                 f"{len(latencies)} executions, the highest with {tail_beyond} beyond it, is {tail:.4f} s")
    for f in runner.failures:
        lines.append(f"FAILED {f['query']}: {f['error']}")
    if layer is None:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        correct = failed == 0
    else:
        lunits = {m["name"]: m["unit"] for m in spec["metrics"]["per_layer"]}
        metrics = {k: {"value": layer[k], "unit": lunits[k]} for k in lunits}
        lines += [f"{k:<40} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        missing = report["traced"]["missing_layers"]
        if missing:
            lines.append(f"FAILED layers with no span: {', '.join(missing)}")
        correct = failed == 0 and not missing
    with open(os.path.join(WORK, f"report-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return {"correct": correct, "attempted": runner.attempted, "failed": failed,
            "metrics": metrics}, lines


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    grandchild whose parent ends first (a PySpark worker daemon outliving
    the JVM) is re-parented here and can be waited for."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Every live process below this one, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_children(grace_s: float = 10.0) -> None:
    """Terminate every process left below this one and wait for each."""
    import signal

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG) == (0, 0):
                    time.sleep(0.05)
            except ChildProcessError:  # nothing left to wait for
                return


def regen_fingerprints(spec: dict, tmp: str) -> None:
    import check
    import datagen

    names = sorted({n for wl in spec["workloads"].values() for n in wl["queries"]})
    sql = check.oracles(names)
    seeds = {}
    for seed in STORED_SEEDS:
        data_dir = datagen.write_tables(seed, os.path.join(tmp, f"data-{seed}"))
        seeds[str(seed)] = check.oracle_fingerprints(data_dir, sql)
        print(f"seed {seed}: {len(names)} fingerprints", flush=True)
    check.store(seeds, names)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-fingerprints", action="store_true",
                    help="recompute fingerprints.json from the DuckDB oracles and exit")
    args = ap.parse_args(argv)
    spec = load_spec()
    if not args.regen_fingerprints and args.workload not in spec["workloads"]:
        ap.error(f"--workload must be one of {sorted(spec['workloads'])}")
    sys.path[:0] = [HERE, ROOT]
    args.tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(args.tmp)
    configure_env(args.tmp)
    adopt_orphans()
    try:
        if args.regen_fingerprints:
            regen_fingerprints(spec, args.tmp)
            return 0
        result, lines = run(args, spec)
    finally:
        try:
            shutdown_jvm()
        finally:
            stop_children()
            shutil.rmtree(args.tmp, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
