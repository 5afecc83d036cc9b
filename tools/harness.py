"""The one measurement harness: bench.py, bench_one, profile_one and the
scale tools start, warm and time query runs here, so a fresh-process
number and a battery number are measured the same way.  Callers put the
repo root on ``sys.path``; the package is imported inside the functions.
"""

from __future__ import annotations

import time
from typing import Callable

# q1 exercises scan+agg codegen, q3/q5 the broadcast/shuffle join + window
# shapes (JIT on the join paths dominates early timings otherwise) and
# q_dedup_clusters the iterative join + localCheckpoint shapes of connected
# components, so timed runs measure the operators, not process startup.
WARM_SF_DIR = "/root/testdata/sf0.001"
WARM_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_dedup_clusters",
)


def session(app: str):
    """The engine's SparkSession with only errors logged."""
    from scalable_data_integration_with_llms_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """JVM/codegen warm-up on the smallest scale, then the Arrow/pandas
    worker spin-up (not timed)."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    for name in WARM_QUERIES:
        QUERIES[name](spark, WARM_SF_DIR).collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: (pdf for pdf in it), "x int"
    ).collect()


def timed(run: Callable[[], object], n: int) -> list[float]:
    """Wall seconds of ``n`` calls of ``run``.  Query-scoped persists are
    released once, after the last call: runs 2..n reuse run 1's cache
    (plan-equality hit), as a pipeline re-running a stage would, but
    nothing leaks into the next timed thunk."""
    from scalable_data_integration_with_llms_spark.caching import release_scoped

    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        runs.append(time.perf_counter() - t0)
    release_scoped()
    return runs


def end_sweep(spark) -> None:
    """Drop every cached frame at sweep end.  clearCache alone would leave
    the SessionMemos handing back uncached DataFrames, so the next sweep
    would time that artifact; dropping the memos makes every sweep rebuild
    and re-persist identically."""
    from scalable_data_integration_with_llms_spark.caching import clear_all_memos

    spark.catalog.clearCache()
    clear_all_memos()
