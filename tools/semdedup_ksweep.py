#!/usr/bin/env python
"""SemDeDup k-contract sweep (VERDICT r11 task #1).

q_semdedup's contract says the cluster count k scales with N so per-cluster
candidate work stays constant; r11 measured its sf1/sf0.1 bench ratio at
12.2x because the committed query keeps k FIXED (the 10 label centroids)
while N grows — the within-cluster pair stage is N²/k.  q_semdedup_scaled
realizes the contract (md5 sub-buckets of target size ceil(n_c/TARGET), so
k_eff ∝ N); this sweep produces the committed evidence:

  for each scale: N, k_eff, candidate-pair counts for BOTH variants, and
  pairs-per-vector — constant for the scaled variant (≲ (TARGET-1)/2),
  growing ∝ N for the fixed-k one — plus wall-clock for the scaled query.

    python tools/semdedup_ksweep.py --out KSWEEP_SEMDEDUP_r13.json

Timing isolation (ADVICE r12): every (query, scale) wall-clock runs in a
FRESH SUBPROCESS, `tools/bench_one.py QUERY --sf-dir DIR --runs N`, whose
`median` is recorded — a shared session's JVM heap carries the previous
query's garbage and spark.stop() does not reset it, inflating later
timings 3–20× (tools/scale_probe_sf10.py measured this).  The pair-count
combinatorics stay in the parent process: exact integer counts are
unaffected by heap state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def bucket_stats(spark, sf_dir: str, target: int) -> dict:
    """Exact bucket-size histograms for both variants from the engine's own
    assignment operators (no timing here — pure combinatorics)."""
    from scalable_data_integration_with_llms_spark.functions.determinism import hash60
    from scalable_data_integration_with_llms_spark.operators.clustering import (
        kmeans_assign,
        label_centroid_arrays,
    )
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, label_centroid_arrays(emb)).select(
        "vec_id", "cluster"
    )
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_c"))
    nb = sizes.select(
        "cluster",
        F.expr(f"CAST((n_c + {target} - 1) DIV {target} AS BIGINT)").alias("nb"),
    )
    sub = assigned.join(F.broadcast(nb), "cluster").withColumn(
        "sub",
        hash60(F.concat(F.lit("sd12:"), F.col("vec_id").cast("string"))) % F.col("nb"),
    )
    sub_sizes = sub.groupBy("cluster", "sub").agg(F.count(F.lit(1)).alias("s"))
    pairs_expr = F.sum(F.expr("s * (s - 1) DIV 2")).alias("pairs")
    scaled = sub_sizes.agg(
        pairs_expr,
        F.count(F.lit(1)).alias("k_eff"),
        F.max("s").alias("max_bucket"),
        (F.sum("s") / F.count(F.lit(1))).alias("avg_bucket"),
    ).collect()[0]
    fixed = sizes.selectExpr("n_c AS s").agg(
        pairs_expr, F.count(F.lit(1)).alias("k"), F.max("s").alias("max_cluster")
    ).collect()[0]
    n = assigned.count()
    return {
        "n_vectors": n,
        "fixed_k": fixed["k"],
        "fixed_cand_pairs": fixed["pairs"],
        "fixed_pairs_per_vector": round(fixed["pairs"] / n, 2),
        "fixed_max_cluster": fixed["max_cluster"],
        "scaled_k_eff": scaled["k_eff"],
        "scaled_cand_pairs": scaled["pairs"],
        "scaled_pairs_per_vector": round(scaled["pairs"] / n, 2),
        "scaled_max_bucket": scaled["max_bucket"],
        "scaled_avg_bucket": round(float(scaled["avg_bucket"]), 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="KSWEEP_SEMDEDUP_r13.json")
    ap.add_argument("--runs", type=int, default=3, help="timed runs (median)")
    args = ap.parse_args()

    import subprocess

    from scalable_data_integration_with_llms_spark.queries.similarity_q import (
        _SD_TARGET,
    )
    from scalable_data_integration_with_llms_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scales = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1", os.path.join(repo, ".scale_sf1")),
    ]
    spark = get_spark("semdedup-ksweep")
    rows = []
    for name, sf_dir in scales:
        if not os.path.isdir(sf_dir):
            print(f"skip {name}: {sf_dir} missing", file=sys.stderr)
            continue
        stats = bucket_stats(spark, sf_dir, _SD_TARGET)
        # one fresh PROCESS per (query, scale) timing — see module docstring
        timings = {}
        for qname in ("q_semdedup_scaled", "q_semdedup"):
            try:
                out = subprocess.run(
                    [sys.executable, os.path.join(repo, "tools", "bench_one.py"),
                     qname, "--sf-dir", sf_dir, "--runs", str(args.runs)],
                    capture_output=True, text=True, cwd=repo, check=True,
                )
            except subprocess.CalledProcessError as e:
                # check=True alone would discard the child's captured
                # stderr — surface it before re-raising so a failed sweep
                # names its cause (ADVICE r13)
                print(f"child {qname} failed rc={e.returncode}; stderr:\n"
                      f"{e.stderr}", file=sys.stderr)
                raise
            timings[qname] = json.loads(out.stdout.strip().splitlines()[-1])["median"]
        rows.append({"scale": name, **stats, "sec": timings})
        print(json.dumps(rows[-1]))

    doc = {
        "target_bucket_size": _SD_TARGET,
        "note": (
            "scaled_pairs_per_vector flat across scales = constant per-cluster "
            "work (k_eff grows with N); fixed_pairs_per_vector grows ~linearly "
            "with N = the quadratic candidate stage at fixed k; each sec value "
            "is the median of fresh-subprocess runs (one process per query x "
            "scale — shared-JVM heap pollution invalidated in-process timings, "
            "ADVICE r12)"
        ),
        "scales": rows,
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
