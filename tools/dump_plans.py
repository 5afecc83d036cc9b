#!/usr/bin/env python
"""The plan ledger: one committed file, ``plans/LEDGER.json``, pins the
physical plans of every registry query as a digest of the masked plan text
plus a shape (exchanges by partitioning, joins by strategy, Python nodes by
kind and function, stateful operators with their state partition count,
scans by relation; batch side and stream side apart).  Run from the repo
root:

    python tools/dump_plans.py ledger [QUERY...]   # (re)write these entries
    python tools/dump_plans.py check [QUERY...]    # exit 1 if any moved

With no query names both cover all of ``QUERIES``.  ``check`` prints, for
each query whose entry moved, the shape diff and a unified diff of the
masked plan text against the pinned one; the masked text of every digest
either command computes is kept in ``plans/text/<digest>.txt`` (not
committed), so run ``check`` before an edit to have the text to diff
against after it.

Both commands plan at the inputs the ledger's header records: the tables
in ``SF_DIR`` and ``SPARK_GRAFT_CPUS=CPUS`` (set in the environment before
the session starts, with every other ``SDI_*``/``SPARK_GRAFT_*`` variable
unset), so a plan depends neither on the host's core count
(``defaultParallelism`` shows up in round-robin exchanges) nor on a sweep
axis left set; ``check`` also fails when the Spark version differs.
"""

from __future__ import annotations

import difflib
import hashlib
import io
import json
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEDGER = os.path.join(ROOT, "plans", "LEDGER.json")
TEXT_DIR = os.path.join(ROOT, "plans", "text")
SF_DIR = "/root/testdata/sf0.001"
CPUS = "4"
_DUMP_CONF = {
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    "spark.sql.maxMetadataStringLength": "100000",
}


def dump_plan(spark, run) -> str:
    """The formatted plan of the frame ``run()`` returns, followed by
    ``explain(extended=True)`` of each streaming query started while it
    ran, in start order.

    For the span of the run and the explains, the session (whose conf a
    drain copies when it starts) has no-data micro-batches off, so a
    drain's last batch, the one explained, is a data batch that shows the
    source scan, not the ``<empty>`` relation of a watermark-only batch;
    and node metadata (filters, locations) is not cut at 100 characters,
    a cut whose place moves with the digits of the expression ids."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        started.append(query)
        return query

    caller = {k: spark.conf.get(k, None) for k in _DUMP_CONF}
    for k, v in _DUMP_CONF.items():
        spark.conf.set(k, v)
    DataStreamWriter.start = recording_start
    buf = io.StringIO()
    try:
        df = run()
        with redirect_stdout(buf):
            df.explain("formatted")
            for query in started:
                print(f"== streaming query {query.name} ==")
                query.explain(extended=True)
    finally:
        DataStreamWriter.start = start
        for k, v in caller.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return buf.getvalue()


# Run-to-run noise in a dumped plan: expression ids, plan ids, lambda
# variable names, file paths (the sink queries and every stream drain write
# to fresh temp dirs), RDD ids (scans of a localCheckpoint), the UUIDs a
# streaming query draws per start (its id, run id and watermark node ids),
# the identity hashes of sink writer objects and the wall-clock batch
# timestamp of a Python state operator.
_PLAN_NOISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"(?:file:)?/[^\s,\]]+"), "<path>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # an RDD's call site names the reflection accessor, native or generated
    (re.compile(r" at [^\s,]+:\d+"), " at <callsite>"),
    (re.compile(r"\b[0-9a-f]{8}-(?:[0-9a-f]{4}-){3}[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"Timeout, \d+"), "Timeout, <batch ms>"),
    # per-run names: scratch.private_name and spark.sql's DataFrame views
    (re.compile(r"_[0-9a-f]{32}(?![0-9a-f])"), "_<private>"),
    # a distinct-aggregate rewrite orders its groups (and numbers their
    # gid) by expression-id hashes, which move with the ids a process drew
    # before: its lines compare as the sorted bag of their tokens
    (re.compile(r"^.*\bgid#.*$"), lambda m: " ".join(sorted(re.split(r"[\s,()\[\]]+", m[0])))),
]


def masked_plan(text: str) -> list[str]:
    """A dumped plan's lines with the run-to-run noise masked."""
    lines = text.splitlines()
    for rx, sub in _PLAN_NOISE:
        lines = [rx.sub(sub, line) for line in lines]
    return lines


_STREAM_HEADER = re.compile(r"^== streaming query \S+ ==$", re.M)
# formatted explain: one block per node, "(7) Name [codegen id : 2]"
_NODE_BLOCK = re.compile(r"^\(\d+\) ([^\[\n]+?) *(?:\[.*)?\n((?:.+\n)*)", re.M)
# explain(extended): one physical node per line below the tree glyphs
_NODE_LINE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\) )?[!~]?((?:File)?Scan \w+|\w+)(.*)$")


def _nodes(text: str):
    """(name, details) of every physical node of a dump: the formatted
    batch plan, then each stream query's physical plan."""
    batch, *streams = _STREAM_HEADER.split(text)
    side = [(m.group(1), m.group(2)) for m in _NODE_BLOCK.finditer(batch)]
    stream = []
    for section in streams:
        physical = section.split("== Physical Plan ==\n", 1)[1]
        lines = (_NODE_LINE.match(line) for line in physical.splitlines())
        stream += [m.groups() for m in lines if m]
    return {"batch": side, "stream": stream} if streams else {"batch": side}


def _kinds(name: str, details: str) -> list[tuple[str, str]]:
    """The (shape table, key) pairs a node counts under."""
    arguments = re.search(r"^Arguments: (.*)$", details, re.M)
    args = arguments.group(1) if arguments else details.strip()
    parts = re.search(r"numPartitions = (\d+)", details)
    hits = [("stateful", f"{name} numPartitions={parts.group(1)}")] if parts else []
    if name in ("Exchange", "BroadcastExchange", "ReusedExchange"):
        hits.append(("exchanges", re.match(r"\w+", args).group(0) if name == "Exchange" else name))
    elif name.endswith("Join") or name == "CartesianProduct":
        hits.append(("joins", name))
    elif re.search(r"Python|InPandas|InArrow", name):
        fn = re.search(r"(\w+)\((?:[^()]|\([^()]*\))*\)#\d+", args) or re.search(r"(\w+)\(", args)
        hits.append(("python", f"{name} {fn.group(1)}"))
    elif "Scan" in name:
        paths = re.search(r"Location: \w+(?:\(\d+ paths\))? ?\[([^\]]*)\]", details)
        if paths:
            files = ",".join(os.path.basename(p.strip()) for p in paths.group(1).split(","))
            hits.append(("scans", f"{name.split()[-1]} {files}"))
        else:
            hits.append(("scans", f"{name} <empty>" if "<empty>" in details else name))
    return hits


def plan_shape(text: str) -> dict:
    """Per side, the count of each shape key over the dump's nodes."""
    shape = {}
    for side, nodes in _nodes(text).items():
        tables: dict[str, Counter] = {}
        for name, details in nodes:
            for table, key in _kinds(name, details):
                tables.setdefault(table, Counter())[key] += 1
        shape[side] = {t: dict(sorted(c.items())) for t, c in sorted(tables.items())}
    return shape


def ledger_entry(text: str) -> dict:
    """A dump's ledger entry; its masked text is kept under its digest."""
    masked = "\n".join(masked_plan(text)) + "\n"
    digest = hashlib.sha256(masked.encode()).hexdigest()
    os.makedirs(TEXT_DIR, exist_ok=True)
    with open(os.path.join(TEXT_DIR, f"{digest}.txt"), "w") as fh:
        fh.write(masked)
    return {"digest": digest, "shape": plan_shape(text)}


def _flat(shape: dict) -> dict[str, int]:
    return {
        f"{side}.{table}.{key}": n
        for side, tables in shape.items()
        for table, counts in tables.items()
        for key, n in counts.items()
    }


def _text(digest: str) -> list[str] | None:
    path = os.path.join(TEXT_DIR, f"{digest}.txt")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read().splitlines()


def compare(pinned: dict, built: dict) -> int:
    """Print the shape diff and the masked text diff of each built entry
    that differs from its pinned one; 1 if any does."""
    moved = []
    for name, entry in built.items():
        old = pinned.get(name)
        if old == entry:
            continue
        moved.append(name)
        print(f"== {name}: plan moved")
        if old is None:
            print("  (no ledger entry)")
            continue
        before, after = _flat(old["shape"]), _flat(entry["shape"])
        for key in sorted(before.keys() | after.keys()):
            if before.get(key, 0) != after.get(key, 0):
                print(f"  {key}: {before.get(key, 0)} -> {after.get(key, 0)}")
        old_text = _text(old["digest"])
        if old_text is None:
            print(f"  (no local text for pinned digest {old['digest'][:12]})")
        else:
            new_text = _text(entry["digest"])
            print("\n".join(difflib.unified_diff(old_text, new_text, "pinned", "now", lineterm="", n=1)))
    print(f"{len(built) - len(moved)}/{len(built)} plans match the ledger")
    return 1 if moved else 0


def _inputs() -> dict:
    import pyspark

    return {"SPARK_GRAFT_CPUS": CPUS, "sf_dir": SF_DIR, "spark": pyspark.__version__}


def build(names: list[str]) -> dict:
    """Ledger entries of the named queries, planned at the pinned inputs."""
    for key in [k for k in os.environ if k.startswith(("SDI_", "SPARK_GRAFT_"))]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = CPUS

    from scalable_data_integration_with_llms_spark.caching import (
        clear_all_memos,
        release_scoped,
    )
    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.session import get_spark

    spark = get_spark("sdi-plan-ledger")
    spark.sparkContext.setLogLevel("ERROR")
    built = {}
    for name in names:
        built[name] = ledger_entry(dump_plan(spark, lambda: QUERIES[name](spark, SF_DIR)))
        release_scoped()
    clear_all_memos()
    spark.stop()
    return built


def main() -> int:
    mode, names = (sys.argv[1:2] or [""])[0], sys.argv[2:]
    if mode not in ("ledger", "check"):
        raise SystemExit(__doc__)
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        raise SystemExit(f"not in QUERIES: {unknown}")
    ledger = {"inputs": _inputs(), "queries": {}}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    built = build(names or list(QUERIES))
    if mode == "check":
        code = compare(ledger["queries"], built)
        if ledger["inputs"] != _inputs():
            print(f"ledger inputs {ledger['inputs']} != {_inputs()}")
            code = 1
        return code
    queries = ledger["queries"] if names else {}
    queries.update(built)
    with open(LEDGER, "w") as fh:
        json.dump({"inputs": _inputs(), "queries": queries}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(built)} entries to {os.path.relpath(LEDGER, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
