#!/usr/bin/env python
"""Driver-mimic correctness harness: run EVERY registered query against its
DuckDB oracle at a given sf dir and report rows/schema/value agreement.

The round driver only hard-verifies a window of the registry; this tool runs
the *whole* surface locally so oracle bugs are found before the driver finds
them.  Comparison mirrors the driver contract (__spark_entry__.py): row count,
column-name set, and an order-insensitive value comparison with columns sorted
by name.  Additionally flags dtype-kind mismatches (int vs float) — those are
exactly the "values equal, hash differs" artifacts seen in round 1.

    python tools/check_correctness.py                       # all queries, sf0.01
    python tools/check_correctness.py --only 'q_dedup'      # regex subset
    python tools/check_correctness.py --first 50            # driver window

Every run merges its green queries into the committed ``VERIFIED.json``:
per query, the newest entry per axis (the ``SDI_*``/``SPARK_GRAFT_*``
variables set, and the sf dir) with its round, commit and row digest.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import hashlib
import json
import math
import os
import re
import subprocess
import sys
import time
from decimal import Decimal

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
VERIFIED = os.path.join(ROOT, "VERIFIED.json")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v):
    """Canonical, hashable form of one cell; tags the numeric kind so an
    int64-vs-float64 divergence is visible even when values are equal."""
    if v is None:
        return ("null",)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return ("null",)
        if math.isinf(f):
            return ("f", f)  # int(inf) would raise
        if f == int(f) and abs(f) < 2**53:
            return ("f", int(f))  # integral float: value comparable, kind=f
        return ("f", f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, Decimal):
        f = float(v)
        if f == int(f) and abs(f) < 2**53:
            return ("d", int(f))
        return ("d", f)
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("t", ts.isoformat())
    if isinstance(v, _dt.date):
        return ("t", v.isoformat() + "T00:00:00")
    if isinstance(v, (np.ndarray, list, tuple)):
        return ("a", tuple(canon_cell(x) for x in v))
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon_cell(x)) for k, x in v.items())))
    return ("s", str(v))


def canon_rows(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    rows = [tuple(canon_cell(v) for v in tup) for tup in df.itertuples(index=False)]
    rows.sort(key=repr)
    return rows


def _strip_row(r):
    return tuple((("n", c[1]) if c[0] in ("i", "f", "d") else c) for c in r)


def _align_by_stripped(rows):
    """Kind-tagged rows re-sorted by their kind-STRIPPED form — the
    alignment used for pairwise diff diagnostics: the kind-tagged sort order
    can differ between engines for equal values, which would misalign a
    naive zip of the two lists and misattribute offending columns."""
    return sorted(rows, key=lambda r: repr(_strip_row(r)))


def values_equal_ignoring_kind(a, b) -> bool:
    """True when rows agree once the numeric-kind tag is erased — i.e. a
    driver hash mismatch that is purely a dtype artifact."""
    return sorted((_strip_row(r) for r in a), key=repr) == sorted(
        (_strip_row(r) for r in b), key=repr
    )


def record_verified(digests: dict[str, str], sf_dir: str, names) -> None:
    """Merge green queries' row digests into the verification ledger,
    replacing each one's entry of the same axis and sf dir; queries no
    longer in ``names`` are dropped."""
    from bench import _infer_round

    env = sorted(f"{k}={v}" for k, v in os.environ.items() if k.startswith(("SDI_", "SPARK_GRAFT_")))
    git = ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"]
    row = dict(
        axis=env,
        sf_dir=sf_dir,
        round=_infer_round(),
        commit=subprocess.run(git, capture_output=True, text=True).stdout.strip(),
    )
    ledger = {}
    if os.path.exists(VERIFIED):
        with open(VERIFIED) as f:
            ledger = json.load(f)
    for name, digest in digests.items():
        kept = [e for e in ledger.get(name, []) if (e["axis"], e["sf_dir"]) != (env, sf_dir)]
        kept.append(dict(row, rows_sha256=digest))
        ledger[name] = sorted(kept, key=lambda e: (e["axis"], e["sf_dir"]))
    with open(VERIFIED, "w") as f:
        json.dump({q: ledger[q] for q in names if q in ledger}, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="regex over query names")
    ap.add_argument("--first", type=int, default=None, help="check first N (driver window)")
    ap.add_argument("--out", default=None, help="write JSON report here")
    ap.add_argument(
        "--skip-oracle",
        default=None,
        help="regex over query names whose DuckDB oracle is skipped (the "
        "Spark side still runs and records rows) — for sweeps at scales "
        "where a brute-force O(N^2) oracle is infeasible by construction",
    )
    ap.add_argument(
        "--skip-query",
        default=None,
        help="regex over query names skipped ENTIRELY (recorded as "
        "'skipped-by-design') — for exact-recall harnesses whose Spark arm "
        "is O(N^2) by construction and infeasible at the sweep's scale",
    )
    ap.add_argument(
        "--oracle-budget",
        type=float,
        default=None,
        help="seconds of DuckDB wall per oracle before con.interrupt() — "
        "a slow oracle degrades to 'oracle-budget-exceeded' instead of "
        "stalling the sweep",
    )
    args = ap.parse_args()

    import duckdb

    from scalable_data_integration_with_llms_spark.caching import (
        clear_all_memos,
        release_scoped,
    )
    from scalable_data_integration_with_llms_spark.queries import ORACLES, QUERIES
    from scalable_data_integration_with_llms_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    names = list(QUERIES)
    if args.first:
        names = names[: args.first]
    if args.only:
        rx = re.compile(args.only)
        names = [n for n in names if rx.search(n)]

    skip_rx = re.compile(args.skip_oracle) if args.skip_oracle else None
    skipq_rx = re.compile(args.skip_query) if args.skip_query else None

    def run_oracle(sql: str):
        """Oracle under the optional wall budget: a watchdog thread calls
        con.interrupt() at the deadline, turning a runaway oracle into an
        exception this loop can record instead of a multi-hour stall."""
        if not args.oracle_budget:
            return con.execute(sql).df()
        import threading

        done = threading.Event()

        def watchdog():
            if not done.wait(args.oracle_budget):
                con.interrupt()

        t = threading.Thread(target=watchdog, daemon=True)
        t.start()
        try:
            return con.execute(sql).df()
        finally:
            done.set()
            t.join()

    report: dict[str, dict] = {}
    verified: dict[str, str] = {}
    n_green = n_dtype = n_red = n_rowsonly = n_err = 0
    for name in names:
        t0 = time.time()
        entry: dict = {}
        if skipq_rx and skipq_rx.search(name):
            entry["status"] = "skipped-by-design"
            entry["sec"] = 0.0
            entry["n_scoped_released"] = 0
            n_rowsonly += 1
            report[name] = entry
            print(f"{entry['status']:>15}  {name}  (0s)", flush=True)
            continue
        try:
            sdf = QUERIES[name](spark, args.sf_dir)
            spdf = sdf.toPandas()
            entry["spark_rows"] = len(spdf)
            if name not in ORACLES:
                entry["status"] = "rows-only"
                n_rowsonly += 1
            elif skip_rx and skip_rx.search(name):
                entry["status"] = "oracle-skipped"
                n_rowsonly += 1
            else:
                odf = run_oracle(ORACLES[name])
                entry["oracle_rows"] = len(odf)
                rows_match = len(spdf) == len(odf)
                schema_match = sorted(spdf.columns) == sorted(odf.columns)
                srows = canon_rows(spdf) if schema_match else None
                orows = canon_rows(odf) if schema_match else None
                hash_match = bool(rows_match and schema_match and srows == orows)
                entry.update(
                    rows_match=rows_match,
                    schema_match=schema_match,
                    hash_match=hash_match,
                )
                if hash_match:
                    entry["status"] = "green"
                    n_green += 1
                    verified[name] = hashlib.sha256(repr(srows).encode()).hexdigest()
                elif (
                    rows_match
                    and schema_match
                    and values_equal_ignoring_kind(srows, orows)
                ):
                    entry["status"] = "dtype-artifact"
                    n_dtype += 1
                    # pin down the offending columns (rows aligned by their
                    # kind-stripped form, cells compared kind-tagged)
                    cols = sorted(spdf.columns)
                    ssort, osort = (_align_by_stripped(srows), _align_by_stripped(orows))
                    bad = []
                    for i, c in enumerate(cols):
                        if any(
                            r1[i] != r2[i] for r1, r2 in zip(ssort, osort)
                        ):
                            bad.append(c)
                    entry["dtype_cols"] = bad
                else:
                    entry["status"] = "RED"
                    n_red += 1
                    if rows_match and schema_match:
                        ssort, osort = (_align_by_stripped(srows), _align_by_stripped(orows))
                        diff = [
                            (r1, r2)
                            for r1, r2 in zip(ssort, osort)
                            if r1 != r2
                        ][:2]
                        entry["first_diffs"] = repr(diff)[:600]
        except Exception as e:  # noqa: BLE001
            if type(e).__name__ == "InterruptException":
                entry["status"] = "oracle-budget-exceeded"
                entry["err"] = f"oracle exceeded --oracle-budget={args.oracle_budget}s"
            else:
                entry["status"] = "ERROR"
                entry["err"] = f"{type(e).__name__}: {e}"[:400]
                # A Py4J stack buries the real failure under awaitResult
                # wrappers — the r13 CLUSTER_SF1 ERRORs truncated away the
                # `Caused by: ... BytesToBytesMap` line that named the root
                # cause.  Record every distinct Caused-by line verbatim.
                causes = [
                    ln.strip()
                    for ln in str(e).splitlines()
                    if ln.strip().startswith("Caused by:")
                ]
                if causes:
                    entry["err_causes"] = sorted(set(causes))[:5]
            n_err += 1
        entry["sec"] = round(time.time() - t0, 2)
        # query-scoped persists are released here, after the consuming
        # action — the ledger (caching.scoped_persist) is how a 195-query
        # session avoids accumulating cached partitions.  Session memos
        # (the matching block's scored frames) deliberately survive the
        # sweep and are audited at the end.
        entry["n_scoped_released"] = release_scoped()
        report[name] = entry
        print(f"{entry['status']:>15}  {name}  ({entry['sec']}s)", flush=True)

    # Cache audit (r3 verdict item 4): with scoped frames released after
    # every query and the session memos cleared, the SQL cache manager must
    # be empty — anything left is a persist that escaped the ledger.
    # (localCheckpoint blocks live at the RDD layer and are GC-managed;
    # they do not register in the SQL cache manager, so this check is
    # exactly the DataFrame-persist audit.)
    clear_all_memos()
    cache_empty = bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())
    report["__cache_audit__"] = {"empty_after_release": cache_empty}
    # Catalog audit: every run names its own temp views and drops them
    # before it returns, so the session must hold none after the sweep.
    views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
    report["__catalog_audit__"] = {"temp_views": views}
    print(
        f"\n{n_green} green, {n_dtype} dtype-artifact, {n_red} RED, "
        f"{n_rowsonly} rows-only, {n_err} ERROR / {len(names)} checked; "
        f"cache audit: {'empty' if cache_empty else 'LEAKED PERSISTS'}; "
        f"catalog audit: {f'{len(views)} LEFTOVER TEMP VIEWS' if views else 'empty'}"
    )
    if not cache_empty:
        n_err += 1
    if views:
        n_err += 1
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    record_verified(verified, args.sf_dir, QUERIES)
    spark.stop()
    return 1 if (n_red or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
