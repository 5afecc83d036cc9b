#!/usr/bin/env python
"""Stage-level profile of one query (guide §7.1 empirical loop, headless):
run the query once in a fresh session with the UI enabled, then read the
per-stage metrics back through the UI REST API and print the slowest stages
with their shuffle volumes — the poor man's Stages tab.

    python tools/profile_one.py q_dedup_clusters [--sf-dir DIR] [--runs 1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    os.environ["SDI_EXTRA_CONF"] = (
        os.environ.get("SDI_EXTRA_CONF", "")
        + ";spark.ui.enabled=true;spark.ui.port=4097"
    )
    from harness import session, timed
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    # no warm_up: the REST job/stage listing below would count its jobs
    spark = session("sdi-profile")
    fn = QUERIES[args.query]
    for i, sec in enumerate(timed(lambda: fn(spark, args.sf_dir).collect(), args.runs)):
        print(f"run {i}: {sec:.3f}s", flush=True)

    app_id = spark.sparkContext.applicationId
    base = f"http://localhost:4097/api/v1/applications/{app_id}"
    stages = json.load(urllib.request.urlopen(f"{base}/stages?status=complete"))
    jobs = json.load(urllib.request.urlopen(f"{base}/jobs"))
    print(f"\n{len(jobs)} jobs, {len(stages)} completed stages")

    def dur(s):
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        try:
            a = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
            b = datetime.strptime(s["completionTime"], fmt)
            return (b - a).total_seconds()
        except Exception:
            return 0.0

    rows = sorted(stages, key=dur, reverse=True)[: args.top]
    print(
        f"{'sec':>7} {'tasks':>5} {'inMB':>7} {'shRdMB':>7} {'shWrMB':>7} "
        f"{'exRunMs':>8} {'gcMs':>6}  name"
    )
    for s in rows:
        print(
            f"{dur(s):7.2f} {s['numCompleteTasks']:5d} "
            f"{s['inputBytes'] / 1e6:7.1f} {s['shuffleReadBytes'] / 1e6:7.1f} "
            f"{s['shuffleWriteBytes'] / 1e6:7.1f} "
            f"{s.get('executorRunTime', 0):8d} {s.get('jvmGcTime', 0):6d}  "
            f"{s['name'][:70]}"
        )
    total_run = sum(s.get("executorRunTime", 0) for s in stages)
    total_gc = sum(s.get("jvmGcTime", 0) for s in stages)
    print(f"\nsum executorRunTime={total_run}ms jvmGcTime={total_gc}ms")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
