#!/usr/bin/env python
"""Fresh-process single-query timer: the JVM-heap-isolation measurement the
shared-JVM battery cannot give (r12/r13 postmortems: spark.stop() does not
reset the heap, so late-battery queries inherit GC pressure from the ~100
queries before them and read 3-4x slower than their true cost).

    python tools/bench_one.py q_image_dhash_dedup [--sf-dir DIR] [--runs 3]

Prints ONE JSON line ``{"query": ..., "runs": [...], "best": ..., "median":
...}`` per query argument.  bench_compare.py uses this (one subprocess per
query) to auto-recheck flagged rows before printing a regression — the
process boundary, not spark.stop(), is the isolation mechanism.

Warm-up, timing and cache release are tools/harness.py's, the same calls
bench.py makes, so a fresh-process number is measured the way the battery
measures it: runs 2..N may reuse run 1's query-scoped frames.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from harness import end_sweep, session, timed, warm_up
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    spark = session("sdi-bench-one")
    warm_up(spark)
    for name in args.queries:
        fn = QUERIES[name]
        runs = [round(t, 4) for t in timed(lambda: fn(spark, args.sf_dir).collect(), args.runs)]
        srt = sorted(runs)
        print(json.dumps({
            "query": name,
            "runs": runs,
            "best": srt[0],
            "median": srt[len(srt) // 2],
            "sf_dir": args.sf_dir,
        }), flush=True)
        end_sweep(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
