#!/usr/bin/env python
"""100x-total scale probe (VERDICT r11 task #7): stress the four operators
whose 100-TB claims rest on O(log n) pointer-jumping rounds / prefix-sum /
O(k)-state math that only larger N can exercise:

  q_dedup_clusters        — connected components (min-label + pointer jump)
  q_er_sorted_neighborhood— two-level prefix-sum global rank + cell join
  q_kmv_set_ops           — KMV sketch fold vs exact distinct
  q_bpe_train             — iterative corpus-wide merge training

r13 additions (VERDICT r12 task #4 — the remaining expensive sf1 rows):

  q_ppjoin_near_dup       — prefix+positional-filtered similarity self-join
  q_duplicate_spans       — windowed hashes -> df>=2 -> gaps-and-islands
  q_sessionization        — per-user session windows over events

Derives ``.scale_sf10/`` (gitignored) — a 10x key-shifted, namespace-
renamed copy of the sf1 derivative's documents/embeddings/events, i.e.
100x the sf0.1 data the driver benches — using the same isomorphic-
workload trick as tools/scale_curve.py: copy j>0 gets word prefix d{j}
(each copy is the same corpus under a renamed token alphabet, so dup/
ngram/rank structure replicates 10x instead of squaring), embeddings roll
by 7j dims, keys shift into disjoint ranges.  Value oracles stay pinned at
sf1 (CORRECTNESS_SF1); this probe is rows-only by design — it measures the
SHAPE of the scaling curve, recording wall(sf10)/wall(sf1) with the same
<=12 linear-ok gate as scale_curve.py.

    SDI_DRIVER_MEM=48g python tools/scale_probe_sf10.py --out SCALE_CURVE_SF10_r12.json

(SDI_DRIVER_MEM matters: under local[32] all executor threads share ONE
driver JVM heap, and q_dedup_clusters' shingle join at 500k docs OOMs the
8g default — a single-JVM test-rig limit; on a real cluster this memory
is per-executor.)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = os.path.join(ROOT, ".scale_sf1")
DST = os.path.join(ROOT, ".scale_sf10")
COPIES = 10

PROBES = [
    "q_dedup_clusters",
    "q_er_sorted_neighborhood",
    "q_kmv_set_ops",
    "q_bpe_train",
    "q_ppjoin_near_dup",
    "q_duplicate_spans",
    "q_sessionization",
]


def build_sf10() -> None:
    if os.path.exists(os.path.join(DST, "_DONE")):
        return
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    os.makedirs(DST, exist_ok=True)
    # dims and the tables the probes don't scale: straight copies so any
    # query that joins them still runs
    for t in ("region", "nation", "supplier", "part", "customer", "orders",
              "lineitem"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    def scaled(table: str, fn) -> None:
        base = pq.read_table(f"{SRC}/{table}.parquet").to_pandas()
        parts = [fn(base.copy(), j) for j in range(COPIES)]
        out = pd.concat(parts, ignore_index=True)
        out.to_parquet(f"{DST}/{table}.parquet", index=False)
        print(f"  {table}: {len(base)} -> {len(out)}")

    def documents(df, j):
        df["doc_id"] += j * 100_000_000
        if j:
            df["text"] = df["text"].map(
                lambda s: " ".join(f"d{j}{w}" for w in s.split(" "))
            )
            df["n_chars"] = df["text"].str.len()
        return df

    def embeddings(df, j):
        df["vec_id"] += j * 100_000_000
        if j:
            df["embedding"] = df["embedding"].map(lambda v: np.roll(v, 7 * j))
        return df

    def events(df, j):
        df["event_id"] += j * 1_000_000_000
        df["user_id"] += j * 100_000_000
        return df

    for name, fn in [
        ("documents", documents), ("embeddings", embeddings), ("events", events),
    ]:
        scaled(name, fn)
    open(os.path.join(DST, "_DONE"), "w").write("ok\n")


def probe_one(name: str) -> dict:
    from harness import WARM_SF_DIR, session, timed, warm_up
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    spark = session(f"sdi-scale-probe-{name}")
    warm_up(spark)
    QUERIES[name](spark, WARM_SF_DIR).collect()  # warm the probed plan too
    row = {}
    for label, sf_dir in (("sf1", SRC), ("sf10", DST)):
        counts = []
        runs = [
            round(t, 3)
            for t in timed(lambda: counts.append(QUERIES[name](spark, sf_dir).count()), 2)
        ]
        row[label] = round(min(runs), 3)
        row[f"runs_{label}"] = runs
        row[f"rows_{label}"] = counts[-1]
    row["ratio"] = round(row["sf10"] / row["sf1"], 2)
    row["verdict"] = "linear-ok" if row["ratio"] <= 12 else "INVESTIGATE"
    return row


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_CURVE_SF10_r12.json")
    ap.add_argument("--only", help="run ONE probe in-process, print its JSON")
    args = ap.parse_args()

    if args.only:
        print(json.dumps(probe_one(args.only)))
        return 0

    print("building sf10 derivative ...")
    build_sf10()

    # One fresh PROCESS per probe.  Two weaker isolations were tried and
    # rejected with measurements: (a) one shared session billed
    # q_bpe_train 21.6s (ratio 22.9, false INVESTIGATE) for GC stalls on
    # a heap still full of q_dedup_clusters garbage (fresh process: 5.4s,
    # ratio 2.6); (b) spark.stop() + a new session does NOT help, because
    # the py4j gateway JVM — and its bloated heap — persists across
    # sessions (q_bpe_train still read 16.2s / 20.9x).  Only a new JVM
    # gives each probe a clean heap.
    import subprocess

    results = {}
    for name in PROBES:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--only", name],
            capture_output=True, text=True, cwd=ROOT, check=True,
        )
        row = json.loads(out.stdout.strip().splitlines()[-1])
        results[name] = row
        print(f"{name:28s} sf1={row['sf1']:7.2f}s sf10={row['sf10']:8.2f}s "
              f"ratio={row['ratio']:6.2f}  {row['verdict']}")

    with open(os.path.join(ROOT, args.out), "w") as fh:
        json.dump({"copies": COPIES, "base": "sf1 derivative (so 100x sf0.1)",
                   "results": results}, fh, indent=1)
    print("wrote", args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
