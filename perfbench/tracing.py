"""Traced runs: spans around every layer of the package, plus Spark counters.

Nothing inside the package changes.  ``install`` replaces each public
function (and public method) of the package's layer modules with a
``Traced`` wrapper, in every package module that holds a reference to it,
so ``from ..sources.readers import load_table`` call sites are wrapped too.
A wrapper pickles as the original function, so closures shipped to Python
workers never carry it.

Spans are kept in memory (name, start, end, parent span, query id, thread)
and written as JSON when the run ends.  After each query the Spark side is
read from outside the package: jobs, stages, tasks, shuffle and spill bytes
from the application status store, Python boundary metrics from the SQL
status store's plan graphs (both are kept with the UI off), and micro-batch
progress from a ``StreamingQueryListener``.  Jobs and SQL executions are attributed to a
query by id windows, which are exact because queries run one at a time, and
to the innermost span of that query that was open when they were submitted.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "scalable_data_integration_with_llms_spark"
# layers wrapped by ``install``; ``queries`` spans come from the runner,
# ``functions`` (Column-expression helpers) and ``fixtures`` are not layers
LAYERS = ("session", "caching", "sources", "catalog", "llm", "operators", "plans", "streaming")


class Span:
    __slots__ = ("id", "name", "parent", "query", "thread", "start", "end", "wall_start",
                 "wall_end", "jobs", "attrs")

    def __init__(self, sid, name, parent, query):
        self.id, self.name, self.parent, self.query = sid, name, parent, query
        self.thread = threading.get_ident()
        self.jobs: list[int] = []
        self.attrs: dict = {}
        self.end = self.wall_end = None
        self.wall_start = time.time()
        self.start = time.perf_counter()

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent, "query": self.query,
                "thread": self.thread, "start": self.start, "end": self.end,
                "jobs": self.jobs, **({"attrs": self.attrs} if self.attrs else {})}


class SpanRecorder:
    """In-memory span store.  Spans nest per thread; a span opened on a
    worker thread of a query's thread pool gets the query's root span as
    parent, because one query runs at a time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.query: str | None = None
        self.query_root: int | None = None
        # span names whose arguments and result the runner inspects after
        # the query (outside the timed window)
        self.keep: set[str] = set()
        self.kept: dict[str, list] = defaultdict(list)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1].id if st else self.query_root
        with self._lock:
            sid = self._next
            self._next += 1
        span = Span(sid, name, parent, self.query)
        st.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.wall_end = time.time()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def root(self, name: str):
        """A query-level span: spans opened on other threads while it is
        open (a query's own thread pool) get it as parent."""
        with self.span(name) as s:
            self.query_root = s.id
            try:
                yield s
            finally:
                self.query_root = None

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.to_json() for s in self.spans]}, f)


class Traced:
    """Callable stand-in for one package function or method."""

    def __init__(self, fn, name: str, owner, attr: str, rec: SpanRecorder):
        import functools

        functools.update_wrapper(self, fn)
        self._fn, self._name, self._owner, self._attr, self._rec = fn, name, owner, attr, rec

    def __call__(self, *args, **kwargs):
        rec = self._rec
        if not rec.active:
            return self._fn(*args, **kwargs)
        span = rec.open(self._name)
        try:
            out = self._fn(*args, **kwargs)
            status = getattr(out, "status", None)
            if isinstance(status, str):
                span.attrs["status"] = status
            if self._name in rec.keep:
                rec.kept[self._name].append((args, out))
            return out
        except BaseException as e:
            span.attrs["error"] = type(e).__name__
            raise
        finally:
            rec.close(span)

    def __get__(self, obj, objtype=None):
        if obj is None:
            return self
        import functools

        return functools.partial(self.__call__, obj)

    def __reduce__(self):
        # unpickled in a Python worker, this is the untouched original
        return (getattr, (self._owner, self._attr))


def _layer_modules():
    pkg = importlib.import_module(PACKAGE)
    mods = []
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        layer = info.name[len(PACKAGE) + 1:].split(".")[0]
        if layer in LAYERS:
            mods.append((layer, importlib.import_module(info.name)))
    return mods


def install(rec: SpanRecorder):
    """Wrap every public function and method of the layer modules; returns
    a function that puts the originals back."""
    importlib.import_module(PACKAGE + ".queries")  # load every call site first
    originals: dict[int, Traced] = {}
    undo = []
    for layer, mod in _layer_modules():
        short = mod.__name__.rsplit(".", 1)[-1]
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                name = f"{layer}.{attr}"
                originals[id(obj)] = Traced(obj, name, mod, attr, rec)
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                for m, fn in list(vars(obj).items()):
                    if m.startswith("_") or not inspect.isfunction(fn):
                        continue
                    prefix = layer if short == layer else f"{layer}.{short}"
                    setattr(obj, m, Traced(fn, f"{prefix}.{m}", obj, m, rec))
                    undo.append((obj, m, fn))
    for mname, mod in list(sys.modules.items()):
        if not (mname == PACKAGE or mname.startswith(PACKAGE + ".")) or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = originals.get(id(obj))
            if w is not None and w._fn is obj:
                setattr(mod, attr, w)
                undo.append((mod, attr, obj))

    def restore():
        for owner, attr, obj in reversed(undo):
            setattr(owner, attr, obj)

    return restore


# -- Spark side ----------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """SQL status store metric text ("1,770", "3.8 s", "total (...)\\n15.0 KiB (...)")
    as a number in base units (seconds, bytes, count)."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# SQL metric names of a Python boundary node (PythonSQLMetrics)
ROWS_OUT = "number of output rows"
BYTES_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")


# plan-graph node name -> layer metric prefix for its Python boundary
def python_owner(node_name: str) -> str | None:
    if "WithState" in node_name or "TransformWithState" in node_name:
        return "streaming"
    if "FlatMapGroupsInPandas" in node_name or "FlatMapCoGroupsInPandas" in node_name:
        return "operators.stable_match"
    if any(k in node_name for k in ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")):
        return "llm"
    return None


class SparkCounters:
    """Reads what the engine did for each query, from outside the package."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._seen_execs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.sync()

    def sync(self) -> None:
        """Move both id windows past everything that has run so far."""
        self._bus.waitUntilEmpty()
        while self._has_job(self._next_job):
            self._next_job += 1
        self._seen_execs.update(self._exec_ids())

    def _exec_ids(self) -> list[int]:
        # SQL execution ids are process-wide, not per SparkContext, so they
        # are listed rather than counted from zero
        it = self._sql.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(it.next().executionId())
        return ids

    def _has_job(self, jid: int) -> bool:
        try:
            self._store.job(jid)
            return True
        except Exception:
            return False

    def read(self) -> tuple[list[dict], list[dict]]:
        """Jobs and SQL executions since the last call."""
        self._bus.waitUntilEmpty()
        jobs = []
        while self._has_job(self._next_job):
            j = self._store.job(self._next_job)
            sub = j.submissionTime()
            rec = {"id": self._next_job,
                   "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                   "completed": None,
                   "stages": j.numCompletedStages(), "tasks": j.numCompletedTasks(),
                   "failed_tasks": j.numFailedTasks(),
                   "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
            comp = j.completionTime()
            if comp.isDefined():
                rec["completed"] = comp.get().getTime() / 1000.0
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:
                    continue  # never submitted (skipped)
                self._seen_stages.add(sid)
                rec["shuffle_read"] += sd.shuffleReadBytes()
                rec["shuffle_write"] += sd.shuffleWriteBytes()
                rec["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            jobs.append(rec)
            self._next_job += 1
        execs = []
        for eid in sorted(set(self._exec_ids()) - self._seen_execs):
            self._seen_execs.add(eid)
            e = self._sql.execution(eid).get()
            rec = {"id": eid, "submitted": e.submissionTime() / 1000.0, "python": {}}
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                owner = python_owner(node.name())
                if owner is None:
                    continue
                acc = rec["python"].setdefault(owner, defaultdict(float))
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        acc[pm.name()] += parse_metric(v.get())
                acc["nodes"] += 1
            execs.append(rec)
        return jobs, execs


def streaming_listener(spark, sink: list):
    """Register a listener that appends one dict per micro-batch to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "id": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1000.0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def attribute(spans: list[Span], jobs: list[dict]) -> None:
    """Give each job to the innermost span of its query that was open when
    the job was submitted (latest-opened wins among overlapping spans)."""
    for job in jobs:
        t = job["submitted"]
        best = None
        for s in spans:
            if s.wall_start <= t <= (s.wall_end or t) and (best is None or s.wall_start >= best.wall_start):
                best = s
        if best is not None:
            best.jobs.append(job["id"])
            job["span"] = best.id


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus the union of the intervals its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.duration - covered
    return out


def _subtree_jobs(spans: list[Span]) -> dict[int, int]:
    kids = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    memo: dict[int, int] = {}

    def count(s: Span) -> int:
        if s.id not in memo:
            memo[s.id] = len(s.jobs) + sum(count(k) for k in kids.get(s.id, []))
        return memo[s.id]

    for s in spans:
        count(s)
    return memo


def layer_metrics(spans: list[Span], jobs: list[dict], execs: list[dict],
                  progress: list[dict], probes: dict, passes: int) -> dict[str, float]:
    """Per-pass layer metrics of the traced passes.  ``probes`` holds what
    was read after each query: sink bytes and rows, LSH candidates and
    verified pairs."""
    by_id = {s.id: s for s in spans}
    own = self_times(spans)
    sub_jobs = _subtree_jobs(spans)

    def named(name):
        return [s for s in spans if s.name == name]

    def outermost(layer):
        return [s for s in spans if s.layer == layer
                and (s.parent is None or by_id.get(s.parent) is None
                     or by_id[s.parent].layer != layer)]

    def secs(ss):
        return sum(s.duration for s in ss)

    py = defaultdict(float)
    for e in execs:
        for owner, vals in e["python"].items():
            for k, v in vals.items():
                py[(owner, k)] += v

    memo = named("caching.get_or_build")
    builds = sum(1 for s in memo if sub_jobs[s.id] > 0)
    statements = named("plans.run_with_timeout")
    raw = {
        "queries.build_s": sum(own[s.id] for s in named("queries.build")),
        "queries.exec_s": secs(named("queries.exec")),
        "sources.load_table.calls": len(named("sources.load_table")),
        "sources.load_table.s": secs(named("sources.load_table")),
        "sources.load_table.jobs": sum(sub_jobs[s.id] for s in named("sources.load_table")),
        "sources.load_dataset_json.s": secs(named("sources.load_dataset_json")),
        "catalog.s": secs(outermost("catalog")),
        "sources.txn_sink.apply_s": secs(named("sources.txn_sink.apply")),
        "llm.calls": len(outermost("llm")),
        "llm.python_rows": py[("llm", ROWS_OUT)],
        "llm.python_bytes_sent": py[("llm", BYTES_SENT)],
        "llm.python_s": py[("llm", PY_TIME)],
        "llm.python_boot_s": sum(py[("llm", k)] for k in PY_BOOT),
        "operators.stable_match.s": secs(named("operators.stable_match")),
        "operators.stable_match.python_s": py[("operators.stable_match", PY_TIME)],
        "operators.table_overlap.s": secs(named("operators.table_overlap")),
        "operators.minhash_signatures.s": secs(named("operators.minhash_signatures")),
        "operators.lsh_candidate_pairs.s": secs(named("operators.lsh_candidate_pairs")),
        "operators.lsh_candidates": probes["lsh_candidates"],
        "plans.evaluate.s": secs(named("plans.mapping_engine.evaluate")),
        "plans.statements": len(statements),
        "plans.timeouts": sum(1 for s in statements if s.attrs.get("status") == "TIMEOUT"),
        "streaming.run_to_memory.s": secs(named("streaming.run_to_memory")),
        "streaming.batches": len(progress),
        "streaming.trigger_s": sum(p["trigger_s"] for p in progress),
        "streaming.state_rows": sum(p["state_rows"] for p in progress),
        "streaming.state_commit_s": sum(p["state_commit_s"] for p in progress),
        "caching.memo_hits": len(memo) - builds,
        "caching.memo_builds": builds,
        "caching.scoped_persists": len(named("caching.scoped_persist")),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
    }
    out = {k: v / passes for k, v in raw.items()}
    # ratios, each over the base reported beside it
    out["caching.memo_hit_ratio"] = (len(memo) - builds) / len(memo) if memo else 0.0
    out["operators.pairs_verified_per_candidate"] = (
        probes["lsh_verified"] / probes["lsh_candidates"] if probes["lsh_candidates"] else 0.0)
    out["sources.txn_sink.bytes_per_row"] = (
        probes["sink_bytes"] / probes["sink_rows"] if probes["sink_rows"] else 0.0)
    return out


def missing_layers(spans: list[Span], jobs: list[dict], layers: list[str]) -> list[str]:
    """The layers in ``layers`` that recorded nothing inside a query (or,
    for ``session``, a set-up): a wrapper missed an import site, or the
    workload no longer reaches the layer."""
    seen = {s.layer for s in spans if s.query is not None or s.layer == "session"}
    if jobs:
        seen.add("spark")
    return [layer for layer in layers if layer not in seen]


def sink_size(sink) -> tuple[int, int]:
    """(bytes on disk, rows) of the committed, active batches of a
    ``TxnParquetSink``."""
    markers = sink._markers()
    size = rows = 0
    for b in sink.committed_ids():
        rows += markers[b]["n_rows"]
        part = os.path.join(sink.data_dir, f"batch_id={b}")
        for dirpath, _, files in os.walk(part):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                        if f.endswith(".parquet"))
    return size, rows


def traced_passes(runner, order, n_passes: int, rec: SpanRecorder, layers: list[str],
                  spans_path: str) -> tuple[dict, dict]:
    """``n_passes`` passes with every layer wrapped; returns the per-layer
    metrics and a summary of the traced passes.  What is read after a
    query (Spark counters, sink sizes, LSH candidate counts) runs outside
    its timed window, and the jobs it launches are skipped."""
    spark = runner.spark
    progress: list[dict] = []
    listener = streaming_listener(spark, progress)
    counters = SparkCounters(spark)
    jobs_all: list[dict] = []
    execs_all: list[dict] = []
    probes = dict(lsh_candidates=0, lsh_verified=0, sink_bytes=0, sink_rows=0)
    rec.keep = {"sources.txn_sink.apply", "operators.lsh_candidate_pairs"}
    passes = []
    restore = install(rec)
    runner.rec = rec
    rec.active = True
    try:
        for _ in range(n_passes):
            runner.clear_all_memos()
            total = 0.0
            for name in order():
                mark = len(rec.spans)
                total += runner.execute(name)
                rec.active = False
                jobs, execs = counters.read()
                for j in jobs:
                    j["query"] = name
                attribute([s for s in rec.spans[mark:] if s.query == name], jobs)
                jobs_all += jobs
                execs_all += execs
                cands = rec.kept.pop("operators.lsh_candidate_pairs", [])
                if cands:
                    probes["lsh_candidates"] += sum(out.count() for _, out in cands)
                    probes["lsh_verified"] += runner.last_rows
                sinks = {id(args[0]): args[0] for args, _ in rec.kept.pop("sources.txn_sink.apply", [])}
                for sink in sinks.values():
                    size, rows = sink_size(sink)
                    probes["sink_bytes"] += size
                    probes["sink_rows"] += rows
                counters.sync()
                rec.active = True
            passes.append(total)
    finally:
        rec.active = False
        runner.rec = None
        restore()
        spark.streams.removeListener(listener)
    counters.sync()
    spans = [s for s in rec.spans if s.layer != "session"]
    metrics = layer_metrics(spans, jobs_all, execs_all, progress, probes, n_passes)
    missing = missing_layers(rec.spans, jobs_all, layers)
    rec.write(spans_path, {"jobs": jobs_all, "sql_executions": execs_all, "progress": progress})
    calls: dict[str, int] = defaultdict(int)
    for s in rec.spans:
        if s.query is not None or s.layer == "session":
            calls[s.layer] += 1
    return metrics, {"passes": passes, "spans": len(rec.spans), "layer_calls": dict(calls),
                     "missing_layers": missing, "probes": probes, "spans_file": spans_path}
