"""Structured Streaming event path (SURVEY §2.10 — additive; the reference
is batch-only, so correctness parity is defined against the batch twin of
each streaming aggregation).

Design: ``readStream`` over the events parquet directory → watermark →
windowed aggregation → sink.  Tests and the driver contract run with the
``availableNow`` trigger and a memory sink in complete mode, which drains the
source and yields the same result as the batch query — giving streaming a
real DuckDB-oracle check.  ``foreachBatch`` would feed the same DataFrames
into the batch matching operators for incremental matching (SURVEY §7
step 11).

At scale: the hourly rollup is a streaming shuffle keyed by (window,
event_type); the watermark bounds state; ``applyInPandasWithState``
sessionization keys state by user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.determinism import cents
from ..sources.readers import _read_parquet

# events parquet has shipped with ts as TIMESTAMP(NANOS) (read as long via
# nanosAsLong, set in session.get_spark, then converted) and as
# TIMESTAMP(MICROS); take the footer's ts type from the readers' per-session
# schema memo (keyed by file identity, so a rewritten file re-probes) and
# declare the matching stream schema, mirroring sources/readers.load_table.
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    footer = _read_parquet(spark, f"{sf_dir}/events.parquet").schema
    nanos = isinstance(footer["ts"].dataType, T.LongType)
    if nanos:
        # Legacy nanos layout: epoch nanos -> LTZ instant directly, with no
        # wall-time interpretation step — agrees with the batch reader's
        # nanos path only when the session timezone is UTC, so keep the
        # fail-loud guard here rather than silently diverging.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"nanos-layout event stream requires "
                f"spark.sql.session.timeZone=UTC (got {tz!r}); batch and "
                f"stream timestamps would diverge"
            )
        raw = (
            spark.readStream.schema(_events_raw_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Micros layout: declare the stream schema NTZ (the parquet wall time)
    # and apply the SAME session-timezone cast as the batch reader
    # (sources/readers.load_table) — batch and stream then agree under ANY
    # session timezone, because both interpret the wall time identically
    # and the shift cancels when result timestamps render back out (r9
    # CORRECTNESS_TZ sweep: the old TimestampType-declared schema read the
    # micros as epoch instants, which only matched batch at UTC).
    raw = (
        spark.readStream.schema(_events_raw_schema(T.TimestampNTZType()))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event type; watermark bounds state for
    late data.

    Windows run over the WALL time (``ts`` cast to TIMESTAMP_NTZ): NTZ
    windows align to the wall-clock epoch, which is the oracle's
    ``date_trunc``/``floor(epoch(naive))`` semantics under any FIXED-OFFSET
    session timezone, and under DST zones for wall times outside a
    spring-forward gap (ADVICE r9: a window boundary whose wall time falls
    INSIDE a gap — e.g. 02:00 America/New_York on 2024-03-10 — does not
    exist as a local time, so the output NTZ→LTZ boundary cast shifts it to
    03:00 on render; tests/test_tz_independence.py pins both the DST-zone
    agreement on gap-free data and the gap caveat itself).  ``F.window``
    over the LTZ column aligns to absolute-epoch instants instead, which
    diverges whenever the session offset is not a multiple of the window
    (r9 TZ sweep: Asia/Kolkata's +5:30 shifted every 1-hour bucket by
    30 min).  The boundary casts round-trip, so output values are unchanged
    at UTC.

    The watermark stays on the LTZ ``ts`` (Spark requires TIMESTAMP there);
    the rollup drains in complete mode, where windowing a non-watermark
    column is legal — in append mode the window would have to move back to
    the watermarked column."""
    return (
        events.withWatermark("ts", watermark)
        .withColumn("ts_wall", F.col("ts").cast("timestamp_ntz"))
        .groupBy(F.window("ts_wall", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value", 10000)) / F.lit(10000.0)).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp").alias("window_start"),
            F.col("w.end").cast("timestamp").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def spread_stream(df: DataFrame) -> DataFrame:
    """Spread a file-stream feed across the cluster's task slots before
    map-heavy work.  The file stream source yields ONE input partition per
    file, so a single-file feed runs its whole map side (e.g. the
    12-permutation md5 banding) on one core; the repartition moves each
    arriving micro-batch's rows once, which the map work it unlocks more
    than repays, and on a production many-file feed the same shuffle is
    what balances skewed file sizes.  Sized to
    ``sparkContext.defaultParallelism`` (the ``spread_scan`` contract)
    rather than a literal core count: a hard-coded 32 would over-split tiny
    micro-batches on a low-core host and cap the map side at 32 tasks on a
    large cluster (streaming frames expose no partition probe, so unlike
    ``spread_scan`` the shuffle is unconditional)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    mode: str = "complete",
    partitions: int = 8,
    provider: str | None = None,
    use_checkpoint: bool = False,
) -> DataFrame:
    """Drain a streaming DataFrame with the availableNow trigger into a
    memory sink; return the result table as a batch DataFrame.

    Streaming shuffles get fewer partitions than batch: each stateful
    partition owns an HDFS-backed state store, so 32 partitions means 32
    store instances per stateful operator per micro-batch — at test scale
    the store setup dominates for queries with FEW keyed groups (the
    default 8).  Queries with MANY tiny groups (the near-dup gate's ~4
    buckets per document) are bounded by the Python state pass instead and
    pass a higher ``partitions`` (measured at sf0.1: 9.0s → 6.7s from
    8 → 32).  The count is pinned at query start (it becomes part of the
    checkpoint), so this is a per-query setting, not a session-wide one.

    ``provider`` swaps the state-store provider class for this drain
    (restored after) — the transformWithState queries require RocksDB.
    ``use_checkpoint`` drains through a throwaway checkpoint dir, removed
    once the query terminates (TWS refuses the in-memory default).
    """
    import shutil
    import tempfile

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    if provider is not None:
        spark.conf.set(_PROVIDER_KEY, provider)
    ckpt = tempfile.mkdtemp(prefix=f"sdi_{name}_ckpt_") if use_checkpoint else None
    query = None
    try:
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        query = writer.start()
        query.awaitTermination()
    finally:
        if query is not None and query.isActive:
            query.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if provider is not None:
            spark.conf.set(_PROVIDER_KEY, prev_provider)
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents as an ingestion stream (the corpus-pipeline twin of
    read_event_stream): declared schema, pathGlobFilter on the documents
    parquet.  No event-time column — document ingestion is arrival-ordered,
    so consumers use stateless ops or complete-mode aggregation."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
