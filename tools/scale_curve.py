#!/usr/bin/env python
"""Scale-curve harness (VERDICT r4 task 5): time the heaviest queries at
sf0.1 vs a locally-derived sf1 (10x rows) and flag super-linear plans.

sf1 derivation (written once to ``.scale_sf1/``, gitignored): 10 key-shifted
copies of every scaled table.  Copies get disjoint key spaces AND disjoint
content namespaces so the WORKLOAD scales isomorphically instead of
quadratically:

* ``documents``: every word in copy i>0 is prefixed ``c{i}`` — each copy is
  an isomorphic corpus under a renamed token alphabet, so near-dup/ngram
  structure replicates exactly 10x (unperturbed copies would make every doc
  a 10-way exact dup and grow the candidate-pair workload ~100x, which
  would be measuring a different problem, not scale).
* ``embeddings``: vectors rolled by i dimensions (norms and within-copy
  neighborhoods preserved, cross-copy neighborhoods scrambled).
* ``customer``: names suffixed `` c{i}`` (ER blocks replicate, not square).
* ``orders``/``lineitem``/``events``: key shifts only; timestamps kept, so
  10x events in the same span = 10x users at the same per-user rate.
* dims (region/nation/supplier/part) copied unchanged.

Verdict rule: wall(sf1)/wall(sf0.1) <= 12 (10x data + scheduling slack) is
linear-ok; anything above gets a plan investigation.  Timings are best-of-2
on this shared-host VM; treat single-query ratios inside the documented
+-50% noise band accordingly.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, ".scale_sf1")
COPIES = 10

HEAVY = [
    "q_lsh_verified_pairs",
    "q_er_entities",
    "q_pmi_collocations",
    "q_dedup_clusters",
    "q_stream_stream_join",
    "q_kn_bigram_lm",
    "q_bloom_join_pushdown",
    "q_ivfpq_adc",
    "q_kcenter_coreset",
    "q_domain_affinity",
    # round 7: the rewritten single-pass table_overlap (J5) on the twin-
    # namespace mapping scenario — orders+customer scale 10x in the sf1
    # derivative, so this measures the one-shuffle overlap, not fixtures
    "q_mapping_overlap",
    # round 8: the full multi-rule mapping benchmark (XML rules ->
    # subsumption -> admission -> map_pk -> execution -> overlap with the
    # m4 timeout sentinel).  The sentinel contributes a FIXED ~3s per
    # level (it is a timeout, not work), so the informative part of the
    # ratio is the m1-m3 overlap scaling on 10x orders/lineitem/customer.
    "q_mapping_e2e",
    # round 9: the 2-config x 2-seed run matrix (A12 on the mapping
    # engine).  The 4 cells submit CONCURRENTLY from pinned threads with
    # per-cell view namespaces; a linear-ok ratio here proves the matrix
    # STAYS parallel at 10x data (a serialized matrix would show ~4x the
    # per-cell scaling, well past the gate).
    "q_mapping_pass_rate",
    # round 10: the KMV sketch family.  The batch set-ops row carries BOTH
    # an exact COUNT(DISTINCT) arm and the one-distinct-shuffle sketch arm,
    # so its ratio tracks the crossover the sketch exists for; the
    # streaming row scales the applyInPandasWithState fold (O(k) state per
    # (group, hash-shard)) over 10x the event feed.
    "q_kmv_set_ops",
    "q_stream_kmv_distinct",
]


def build_sf1() -> None:
    if os.path.exists(os.path.join(DST, "_DONE")):
        return
    import numpy as np
    import pyarrow.parquet as pq
    import pandas as pd

    os.makedirs(DST, exist_ok=True)
    for t in ("region", "nation", "supplier", "part"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    def scaled(table: str, fn) -> None:
        base = pq.read_table(f"{SRC}/{table}.parquet").to_pandas()
        parts = [fn(base.copy(), i) for i in range(COPIES)]
        out = pd.concat(parts, ignore_index=True)
        out.to_parquet(f"{DST}/{table}.parquet", index=False)
        print(f"  {table}: {len(base)} -> {len(out)}")

    def orders(df, i):
        df["o_orderkey"] += i * 10_000_000
        df["o_custkey"] += i * 1_000_000
        return df

    def lineitem(df, i):
        df["l_orderkey"] += i * 10_000_000
        return df

    def events(df, i):
        df["event_id"] += i * 10_000_000
        df["user_id"] += i * 1_000_000
        return df

    def documents(df, i):
        df["doc_id"] += i * 1_000_000
        if i:
            df["text"] = df["text"].map(
                lambda s: " ".join(f"c{i}{w}" for w in s.split(" "))
            )
            df["n_chars"] = df["text"].str.len()
        return df

    def embeddings(df, i):
        df["vec_id"] += i * 1_000_000
        if i:
            df["embedding"] = df["embedding"].map(lambda v: np.roll(v, i))
        return df

    def customer(df, i):
        df["c_custkey"] += i * 1_000_000
        if i:
            df["c_name"] = df["c_name"] + f" c{i}"
        return df

    for name, fn in [
        ("orders", orders), ("lineitem", lineitem), ("events", events),
        ("documents", documents), ("embeddings", embeddings),
        ("customer", customer),
    ]:
        scaled(name, fn)
    open(os.path.join(DST, "_DONE"), "w").write("ok\n")


def main() -> None:
    print("building sf1 derivative ...")
    build_sf1()

    from harness import end_sweep, session, timed, warm_up
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    spark = session("sdi-scale-curve")
    warm_up(spark)

    results = {}
    for name in HEAVY:
        row = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
            runs = timed(lambda: QUERIES[name](spark, sf_dir).collect(), 2)
            row[label] = round(min(runs), 3)
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
        row["verdict"] = "linear-ok" if row["ratio"] <= 12 else "INVESTIGATE"
        results[name] = row
        print(f"{name:28s} sf0.1={row['sf0.1']:7.2f}s sf1={row['sf1']:8.2f}s "
              f"ratio={row['ratio']:6.2f}  {row['verdict']}")
    end_sweep(spark)

    out = os.path.join(
        ROOT, sys.argv[1] if len(sys.argv) > 1 else "SCALE_CURVE_r07.json"
    )
    with open(out, "w") as fh:
        json.dump({"copies": COPIES, "results": results}, fh, indent=1)
    print("wrote", out)


if __name__ == "__main__":
    main()
