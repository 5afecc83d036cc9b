"""Sources (SURVEY §2.1 S1–S8).

The driver's synthetic tables are parquet; the reference's instance data is
CSV read with every cell a string and columns realigned to the declared schema
(``Stable Schema Matching/prompt/InstanceDataHandler.py:122-123,188-217``).
Both paths are provided:

* ``load_table``/``load_tables`` — parquet scans of the test tables.  Filters
  and projections applied downstream push into these scans (Catalyst handles
  PushedFilters/ReadSchema; verified in tests/test_plans.py).  A file's
  schema is inferred once per session and then declared (metadata only;
  the contract is in ``load_table``).
* ``read_instance_csv`` — the reference's untyped-CSV semantics: all-string
  read, rename drift columns, drop surrogate ``row_id``, add missing schema
  columns as NULL, realign to schema order (S3).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable, Mapping

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import _is_stopped

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _flaky_retry_wrap(df: DataFrame) -> DataFrame:
    """Recomputation-under-retry adversary (SURVEY §4's determinism trap;
    VERDICT r9 task #4), active only under ``SDI_FLAKY_SOURCES=1``: a
    pass-through ``mapInPandas`` that FAILS the first attempt of every even
    source partition, so Spark recomputes those tasks from the scan.  Needs
    a retry-permitting master (``SDI_TASK_MAX_FAILURES`` → ``local[N,F]``,
    session.py).  Every query result must be byte-identical with and
    without the injection: the engine's randomness is all seeded md5 over
    row keys (functions/determinism.py) and row order is never load-bearing,
    so a recomputed partition reproduces exactly — the property that keeps
    results stable on a real cluster where task retries and speculative
    execution are routine, not adversarial.  The wrapper deliberately sits
    ON the scan (costing pushdown/pruning): an ugly plan that must still be
    correct, like the codegen-off sweep."""

    def gen(it):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0 and tc.partitionId() % 2 == 0:
            raise RuntimeError("SDI_FLAKY_SOURCES: injected first-attempt failure")
        yield from it

    return df.mapInPandas(gen, schema=df.schema)


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan across the cluster's task slots when it
    arrives in fewer partitions than HALF the default parallelism — the
    single-file-scan fix (one local parquet file = ONE input partition, so
    any explode/md5-heavy map side otherwise runs on one core; profiled on
    q_duplicate_spans, q_tfidf_top_terms, q_bloom_contamination at sf0.1).

    The guard keeps this a no-op at cluster scale, where a real input
    already has enough splits — the shuffle is only paid when the scan is
    provably under-parallel, and it moves each doc row once, which the
    map-side work it unlocks more than repays.  The one copy of this
    rule: ``operators.dedup.word_shingles`` and ``span_tokens`` call it."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


def _file_identity(spark: SparkSession, path: str) -> tuple[int, int] | None:
    """``(modification time, length)`` of ``path`` from its Hadoop
    ``FileStatus`` — the same lookup on local and cluster storage — or
    ``None`` when the path is a directory or cannot be stat'ed (missing,
    unreadable): the caller then reads without the memo, and Spark's own
    read reports the error."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jpath)
    except Py4JJavaError:
        return None
    if status.isDirectory():
        return None
    return status.getModificationTime(), status.getLen()


# confs whose values change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# session -> {(path, mtime, length, *conf values): inferred schema}.  Keyed
# by the session object itself, like caching.SessionMemo; stopped sessions
# are evicted on a miss.  Metadata only: no data, nothing persisted, so it
# is not one of caching.clear_all_memos's memos.
_SCHEMAS: dict[SparkSession, dict[tuple, T.StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    session: later reads declare the memoized schema, so they build a fresh
    relation (own file listing, same pushdown and pruning) without the
    footer-inference job.  Directories and missing paths bypass the memo."""
    ident = _file_identity(spark, path)
    if ident is None:
        return spark.read.parquet(path)
    key = (path, *ident, *(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(spark, {}).get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMAS_LOCK:
        for sess in [s for s in _SCHEMAS if _is_stopped(s)]:
            del _SCHEMAS[sess]
        _SCHEMAS.setdefault(spark, {})[key] = schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one test table. Column pruning + predicate pushdown
    happen at this scan when the caller selects/filters downstream.

    Relation metadata is memoized per session (never data): the first read
    of a file infers its schema with one Spark job, and every later read in
    the same session declares that schema instead, skipping the job.  The
    memo key is the live ``SparkSession``, the file's path, modification
    time and length (Hadoop ``FileStatus``), and the values of the confs
    that change inference (``_INFERENCE_CONFS``), so a rewritten file or a
    toggled conf re-infers.  A directory or a missing path bypasses the
    memo and reads with plain ``spark.read.parquet`` (a missing path still
    raises Spark's ``PATH_NOT_FOUND``).

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (unreadable natively — read nanos
    as long, which ``session.get_spark`` enables with
    ``spark.sql.legacy.parquet.nanosAsLong``, and truncate to micros,
    matching DuckDB/Arrow readers) and plain
    TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ — cast to the session-zone
    timestamp type so downstream window/filter exprs see one type either
    way; session tz is pinned UTC so values are identical).
    """
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer div — double division would lose precision above 2^53 ns
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _flaky_retry_wrap(df) if os.environ.get("SDI_FLAKY_SOURCES") == "1" else df


def load_events_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` as TIMESTAMP_NTZ — the parquet wall time with
    NO session-timezone cast.

    ``load_table``'s NTZ→LTZ cast round-trips for calendar-in/render-out
    queries (the session-TZ shift applied on the way in is undone when the
    result timestamp is rendered), so those stay session-TZ independent.
    But a query that extracts an ABSOLUTE epoch mid-flight (``unix_*`` on
    the cast column) bakes the shift into a number that never renders back
    — under a non-UTC session TZ it silently diverges from the DuckDB
    oracle's ``epoch(naive)`` (found by the r9 CORRECTNESS_TZ sweep on
    q_user_value_trend).  Such queries must read the wall time NTZ and do
    calendar math (``timestampdiff``), which no session TZ can shift."""
    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # nanos layout: epoch nanos -> calendar add onto the NTZ epoch
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " timestamp_ntz'1970-01-01 00:00:00')"
            ),
        )
    # else: micros layout already reads as TIMESTAMP_NTZ
    return _flaky_retry_wrap(df) if os.environ.get("SDI_FLAKY_SOURCES") == "1" else df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def read_instance_csv(
    spark: SparkSession,
    path: str,
    schema_cols: list[str],
    renames: Mapping[str, str] | None = None,
    drop_cols: Iterable[str] = ("row_id",),
    add_missing: bool = True,
    lowercase_cols: bool = False,
) -> DataFrame:
    """Untyped instance-data CSV read with the reference's realignment
    semantics (S3, ``InstanceDataHandler.py:104-410``):

    every cell a string (no inferSchema), optionally lowercased headers
    (synthea, :306-309), drift columns renamed, surrogate ``row_id``
    dropped, columns missing from the file added as NULL (or, with
    ``add_missing=False``, the valentine policy: keep only the schema∩csv
    intersection, :122-134), and the result projected in declared-schema
    order.  Per-dataset front-ends live in ``sources/dataset_loaders.py``.
    """
    df = spark.read.csv(path, header=True, inferSchema=False)
    if lowercase_cols:
        df = df.toDF(*[c.lower() for c in df.columns])
    if renames:
        df = df.withColumnsRenamed(dict(renames))
    for c in drop_cols:
        if c in df.columns:
            df = df.drop(c)
    present = set(df.columns)
    keep = schema_cols if add_missing else [c for c in schema_cols if c in present]
    return df.select(
        [
            (F.col(c) if c in present else F.lit(None).cast("string")).alias(c)
            for c in keep
        ]
    )
