"""Streaming surface: the hourly rollup executed as a real Structured
Streaming query (availableNow → memory sink) checked against the batch SQL
oracle, plus batch sessionization (the lag-gap formulation whose streaming
twin is applyInPandasWithState — tests/test_streaming_state.py covers the
stateful variant).  Every stream query drains through the one lifecycle in
streaming/events.py.
"""

from __future__ import annotations

import shutil
import threading

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions.determinism import TWO_60_INT, hash60_sql
from ..operators.dedup import content_key
from ..scratch import new_dir
from ..sources.readers import load_table
from ..streaming.events import (
    WATERMARK,
    hourly_rollup,
    read_document_stream,
    read_event_stream,
    run_foreach_batch,
    run_to_memory,
    spread_stream,
)
from ..streaming.near_dup_gate import gate_verdict, near_dup_gate, stream_minhash_bands
from ..streaming.sessions import SESSION_GAP_MIN, sessionize_stream
from .registry import query

_STREAM_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@query("q_stream_hourly", _STREAM_HOURLY_ORACLE)
def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    rollup = hourly_rollup(stream, "event_type")
    return run_to_memory(spark, rollup, "sdi_stream_hourly")


_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
"""


@query("q_sessionization", _SESSION_ORACLE)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch formulation; 30-minute inactivity
    gap).  The streaming twin keys the same logic by user via
    applyInPandasWithState."""
    e = load_table(spark, sf_dir, "events")
    order_win = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision — a seconds cast would truncate sub-second gaps
    # and disagree with the oracle's INTERVAL comparison
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(order_win)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(order_win.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# Closed-sessions oracle shared by both stateful formulations: a bounded
# (availableNow) drain deterministically emits exactly the sessions closed
# by a later event — every session except each user's last — regardless of
# micro-batch boundaries, because closing is triggered by data, not time.
_CLOSED_SESSIONS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
),
agg AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, session_id, n_events, session_start, session_end FROM agg
QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)
"""


@query("q_sessionization_stream", _CLOSED_SESSIONS_ORACLE)
def q_sessionization_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState keyed by
    user) drained with availableNow, value-checked against the
    closed-sessions oracle: the drain emits exactly the sessions closed by
    a later event (each user's final open session stays in state awaiting
    more data — batch-boundary independent, so fully oracle-checkable)."""
    stream = read_event_stream(spark, sf_dir)
    sessions = sessionize_stream(stream)
    return run_to_memory(spark, sessions, "sdi_sessions_q", mode="append")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _has_tws_runtime() -> bool:
    """transformWithStateInPandas's state-server control channel is
    protobuf-encoded; without google.protobuf the TWS driver worker
    crashes at init.  Gate registration so environments lacking protobuf
    (like this test container) simply don't declare the query, while the
    applyInPandasWithState twin keeps streaming-sessionization coverage."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no parent 'google' package at all
        return False


def _register_tws() -> None:
    query("q_sessionization_tws", _CLOSED_SESSIONS_ORACLE)(q_sessionization_tws)
    query("q_stream_near_dup_gate_tws", _NEAR_DUP_GATE_ORACLE)(
        q_stream_near_dup_gate_tws
    )


def q_stream_near_dup_gate_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup ingest gate on transformWithStateInPandas (Spark 4
    stateful API, RocksDB store) — same banding, same first-wins
    semantics, same batch-twin oracle as q_stream_near_dup_gate; see
    streaming/near_dup_gate.py:make_gate_processor."""
    from ..streaming.near_dup_gate import near_dup_gate_tws

    stream = spread_stream(read_document_stream(spark, sf_dir))
    gated = near_dup_gate_tws(stream_minhash_bands(stream))
    drained = run_to_memory(
        spark,
        gated,
        "sdi_near_dup_tws_q",
        mode="append",
        partitions=32,
        provider=_ROCKSDB_PROVIDER,
    )
    return gate_verdict(drained)


def q_sessionization_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization on transformWithStateInPandas (Spark 4's stateful
    API, RocksDB state store) drained with availableNow.  Unlike the
    applyInPandasWithState twin above, this one carries a full value
    oracle: a bounded drain deterministically emits exactly the sessions
    closed by a later event — i.e. every session except each user's last —
    regardless of micro-batch boundaries, because closing is triggered by
    data, not time."""
    from ..streaming.tws_sessions import sessionize_stream_tws

    stream = read_event_stream(spark, sf_dir)
    sessions = sessionize_stream_tws(stream)
    return run_to_memory(
        spark, sessions, "sdi_sessions_tws_q", mode="append", provider=_ROCKSDB_PROVIDER
    )


# NOTE: _register_tws() is invoked at the very END of this module — it
# references _NEAR_DUP_GATE_ORACLE, defined further down, so calling it here
# would raise NameError on any protobuf-capable environment (ADVICE r6).


# -- stream-static enrichment join -------------------------------------------

_STREAM_ENRICHED_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       c_mktsegment,
       COUNT(*) AS n_events,
       SUM(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2, 3
"""


@query("q_stream_enriched", _STREAM_ENRICHED_ORACLE)
def q_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (Spark broadcasts the static side into every
    micro-batch — no stream-side shuffle for the join), then a watermarked
    hourly window per market segment.  Oracle = the batch twin, so the
    drained stream is value-checked, not just row-counted."""
    stream = read_event_stream(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey)
    # exact distinct via collect_set (bounded: users per segment-hour is
    # small); at 100 TB swap for approx_count_distinct
    n_users = F.size(F.collect_set("user_id")).alias("n_users")
    rolled = hourly_rollup(enriched, "c_mktsegment", n_users)
    return run_to_memory(spark, rolled, "sdi_stream_enriched")


# -- streaming exact dedup ----------------------------------------------------

_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("q_stream_dedup", _STREAM_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication — the training-pipeline dedup gate run
    as a stream: dropDuplicatesWithinWatermark keeps the first arrival per
    key and bounds state by the watermark (vs unbounded dropDuplicates
    state).  The drained result equals the batch DISTINCT, so the streaming
    operator gets a real value oracle, not a row count."""
    stream = read_event_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(spark, deduped, "sdi_stream_dedup", mode="append")


# -- stream-stream interval join (view→click attribution) ---------------------

_STREAM_SS_JOIN_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       c.ts AS click_ts, v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id
 AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
"""


@query("q_stream_stream_join", _STREAM_SS_JOIN_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks attributed to a view by the same
    user within the preceding 30 minutes.  Both sides are watermarked (the
    state bound Spark requires for stream-stream joins) and the time-range
    predicate lets the engine expire buffered rows; append mode emits each
    match exactly once.  The drained result is value-checked against the
    batch join — the strongest oracle a streaming operator can have.

    At scale: the join shuffles both streams on user_id; state per key is
    bounded by watermark + interval, so total state is O(rate × 30 min),
    independent of stream length.

    r15 sweep (VERDICT r14 item 3; fresh-process, best of 3, sf0.1):
    state-store provider × state shuffle partitions — HDFS/8 (this query)
    2.52 s, HDFS/4 2.21, HDFS/16 4.30, HDFS/32 6.80, RocksDB/8 3.42,
    RocksDB/16 4.34.  Cost scales ~linearly with partition count
    (~0.13 s/partition of per-micro-batch store setup+commit — the
    irreducible floor at this SF), RocksDB adds native-store overhead the
    workload never amortizes, and the only "win" (4 partitions, −12%,
    under the 20% bar) would cap cluster join parallelism at 4 — local
    tuning, rejected.  Kept: HDFS provider, partitions=8."""
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    views = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("click_ts")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "view_id",
        "click_ts",
        "view_ts",
    )
    return run_to_memory(spark, joined, "sdi_stream_ss_join", mode="append")


# -- sliding (hopping) window rollup ------------------------------------------

_SLIDING_ORACLE = """
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM (
  -- epoch_us keeps the bucket math in integer microseconds: epoch()::BIGINT
  -- would ROUND sub-second parts and shift boundary events a bucket up
  SELECT ts, event_type,
         unnest(ARRAY[
           CAST(to_timestamp((epoch_us(ts) // 1800000000) * 1800) AS TIMESTAMP),
           CAST(to_timestamp((epoch_us(ts) // 1800000000) * 1800 - 1800) AS TIMESTAMP)
         ]) AS window_start
  FROM events
)
WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
GROUP BY window_start, event_type
"""


@query("q_sliding_windows", _SLIDING_ORACLE)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 1-hour windows sliding every 30 minutes (each
    event lands in two windows) — the overlap shape behind rate monitors and
    trailing-hour dashboards.  ``F.window(ts, '1 hour', '30 minutes')`` is
    the same operator Structured Streaming uses; the oracle expands each
    event to its two slide-grid windows explicitly.  At scale the expand is
    map-side (window count = window/slide, fixed), then one keyed shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


# -- native session_window operator -------------------------------------------


@query("q_session_window_native", _SESSION_ORACLE)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-minute-gap sessions via Spark's native ``session_window``
    operator (one groupBy — the operator streaming uses with state) instead
    of the lag/running-sum window formulation: both reduce to identical
    sessions, so they share one oracle.  Session ids are re-derived as the
    per-user rank of session start to match the oracle's cumulative
    numbering; session_end = max event ts (the native window end extends
    gap past the last event by definition)."""
    e = load_table(spark, sf_dir, "events")
    gap = f"{SESSION_GAP_MIN} minutes"
    sessions = (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    win = W.partitionBy("user_id").orderBy("session_start")
    return sessions.select(
        "user_id",
        F.row_number().over(win).cast("bigint").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
    )


# -- streaming corpus ingestion: quality gate + dedup vs the static corpus ----

_STREAM_INGEST_ORACLE = """
WITH incoming AS (
  SELECT source, md5(text) AS h FROM documents
  WHERE doc_id % 10 = 0 AND len(string_split(text, ' ')) >= 20
),
corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
)
SELECT i.source, COUNT(*) AS n_admitted
FROM incoming i LEFT JOIN corpus c ON i.h = c.h
WHERE c.h IS NULL
GROUP BY i.source
"""


@query("q_stream_corpus_ingest", _STREAM_INGEST_ORACLE)
def q_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion gate: arriving documents (doc_id % 10 = 0
    plays the incoming feed) pass a map-side quality filter (≥ 20 tokens)
    and a stream-static LEFT ANTI join against the already-ingested corpus
    hash set, rolled up per source.

    Shape notes: the anti join is STATELESS (static build side re-broadcast
    per micro-batch), the quality gate never leaves the map stage, and the
    rollup runs complete-mode — the standing ingestion counter a pipeline
    dashboard reads.  The corpus side reduces to distinct 32-char hashes
    before the join, never shipping text, exactly like the batch twin
    (q_incremental_dedup).  Oracle = the batch equivalent of the drained
    stream."""
    stream = read_document_stream(spark, sf_dir).filter(
        (F.col("doc_id") % 10 == 0)
        & (F.size(F.split("text", " ", -1)) >= 20)
    )
    corpus = F.broadcast(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .select(content_key("text").alias("h"))
        .distinct()
    )
    admitted = stream.withColumn("h", content_key("text")).join(
        corpus, "h", "left_anti"
    )
    rolled = admitted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_admitted")
    )
    return run_to_memory(spark, rolled, "sdi_stream_ingest")


# -- streaming CDC upsert (foreachBatch merge) --------------------------------
# The streaming twin of q_cdc_apply: the event stream is a changelog on
# user_id; each micro-batch pre-reduces to one (latest-op struct, change
# count) row per key, then merges into the running snapshot with an
# associative combine — max of the (ts, event_id)-ordered struct + sum of
# counts — so the final state is IDENTICAL for any micro-batch partitioning
# (the oracle is literally the batch compaction's SQL).  Per batch: one
# key-shuffled aggregation over the batch + one over the merged frame;
# the snapshot is localCheckpoint'ed each round to cut lineage, exactly the
# foreachBatch upsert loop a warehouse sink runs continuously.

_STREAM_CDC_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id, event_type AS last_op,
       CAST(round(value * 1000, 0) AS BIGINT) AS last_value_milli,
       ts AS last_ts, CAST(n_changes AS BIGINT) AS n_changes
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@query("q_stream_cdc_apply", _STREAM_CDC_ORACLE)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    state: dict[str, DataFrame] = {}

    def reduce_batch(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last"),
            F.count(F.lit(1)).alias("n_changes"),
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        b = reduce_batch(batch_df)
        prev = state.get("snap")
        merged = b if prev is None else (
            prev.unionByName(b)
            .groupBy("user_id")
            .agg(F.max("last").alias("last"), F.sum("n_changes").alias("n_changes"))
        )
        state["snap"] = merged.localCheckpoint()

    # the snapshot is a local checkpoint: it does not read the streaming
    # checkpoint the drain removes
    run_foreach_batch(spark, stream, "sdi_stream_cdc", upsert)
    snap = state["snap"]
    return snap.filter(F.col("last.event_type") != "error").select(
        "user_id",
        F.col("last.event_type").alias("last_op"),
        F.round(F.col("last.value") * 1000, 0).cast("bigint").alias("last_value_milli"),
        F.col("last.ts").alias("last_ts"),
        F.col("n_changes").cast("bigint").alias("n_changes"),
    )


# -- streaming trending: top event types per 6-hour window --------------------
# The standing "what's trending" dashboard: a complete-mode windowed count
# drained with availableNow, then a per-window top-3 rank over the (tiny)
# aggregate — ranking runs on the sink-side batch frame, where it belongs
# (per-window state in the stream stays a plain count; no streaming rank
# operator needed).  Oracle = the batch equivalent over the same 6-hour
# epoch-aligned buckets.

_STREAM_TOPK_ORACLE = """
SELECT window_start, event_type, n_events, type_rank FROM (
  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP) AS window_start,
         event_type, COUNT(*) AS n_events,
         ROW_NUMBER() OVER (PARTITION BY CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP)
                            ORDER BY COUNT(*) DESC, event_type ASC) AS type_rank
  FROM events GROUP BY 1, 2
) WHERE type_rank <= 3
"""


@query("q_stream_topk_types", _STREAM_TOPK_ORACLE)
def q_stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file stream source yields ONE input partition per file, so a
    # single-file feed runs the whole bucket-projection map side on one
    # core (profiled: 2.3 s single-task stage) — same fix as the near-dup
    # gate: spread the raw feed before the map work, which a many-file
    # production feed gets for free
    stream = spread_stream(read_event_stream(spark, sf_dir))
    # 6-hour buckets on the WALL time, by calendar math (the oracle's
    # floor(epoch(naive)/21600)).  F.window("6 hours") epoch-aligns the LTZ
    # instants instead, which matches the wall bucketing only when the
    # session-TZ offset is a multiple of 6 h — under UTC-8 every bucket
    # boundary shifts by 2 h (r9 CORRECTNESS_TZ sweep).  A projected bucket
    # column groups fine in complete mode; the final cast back to LTZ makes
    # the rendered wall time session-TZ independent again.
    wall_bucket = F.expr(
        "cast(timestampadd(SECOND,"
        " (timestampdiff(SECOND, timestamp_ntz'1970-01-01 00:00:00',"
        "                cast(ts as timestamp_ntz)) div 21600) * 21600,"
        " timestamp_ntz'1970-01-01 00:00:00') as timestamp)"
    )
    counts = stream.groupBy(
        wall_bucket.alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    drained = run_to_memory(spark, counts, "sdi_stream_topk")
    win = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        drained.withColumn("type_rank", F.row_number().over(win))
        .filter(F.col("type_rank") <= 3)
        .select("window_start", "event_type", "n_events", "type_rank")
    )


# -- streaming near-dup ingest gate (applyInPandasWithState per LSH bucket) ----
# The online twin of the batch MinHash-LSH stack: arriving documents are
# admitted iff NO LSH bucket has seen a smaller doc id.  Signatures are
# computed map-only (streaming/near_dup_gate.py — byte-equal to the batch
# operator, parity-tested), so the gate's (band, signature) shuffle is the
# stream's only stateful exchange and per-bucket state is one bigint.  The
# oracle is the batch SQL over the same signatures: a doc's dup-band count
# is how many of its buckets contain a smaller doc.

_NEAR_DUP_GATE_ORACLE = f"""
WITH w AS (SELECT doc_id AS doc, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT DISTINCT doc, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
perms AS (SELECT unnest(range(0, 12)) AS p),
hashed AS (SELECT doc, p, {hash60_sql("p || ':' || shingle")} AS h
           FROM s CROSS JOIN perms),
minh AS (SELECT doc, p, MIN(h) AS minh FROM hashed GROUP BY doc, p),
banded AS (SELECT doc, CAST(p // 3 AS INT) AS band, p, minh FROM minh),
sig AS (SELECT doc, band, md5(string_agg(p || ':' || minh, '|' ORDER BY p)) AS signature
        FROM banded GROUP BY doc, band),
firsts AS (SELECT band, signature, MIN(doc) AS first_doc FROM sig GROUP BY 1, 2)
SELECT sig.doc AS doc_id,
       CAST(SUM(CASE WHEN sig.doc > f.first_doc THEN 1 ELSE 0 END) AS INT) AS n_dup_bands,
       SUM(CASE WHEN sig.doc > f.first_doc THEN 1 ELSE 0 END) = 0 AS admitted
FROM sig JOIN firsts f ON sig.band = f.band AND sig.signature = f.signature
GROUP BY sig.doc
"""


@query("q_stream_near_dup_gate", _NEAR_DUP_GATE_ORACLE)
def q_stream_near_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate ingest gate: map-only MinHash banding on the
    document feed, then a stateful first-wins gate per (band, signature)
    bucket (applyInPandasWithState, one bigint of state per bucket), drained
    availableNow and rolled up to a per-document verdict — admitted iff no
    bucket already held a smaller doc id.

    Determinism: the single-file feed drains in one micro-batch, so
    first-seen == min doc id and the result equals the batch twin (the
    oracle) exactly; on a live feed the identical code is first-arrival-
    wins, the semantics a production gate wants.  See
    streaming/near_dup_gate.py for the scale story."""
    # The file stream source yields ONE input partition per file, so a
    # single-file feed would run the whole 12-permutation md5 banding on one
    # core (measured 5.4s of the 8.5s wall at sf0.1; spread_stream note).
    # 8.5s -> 3.8s at sf0.1.
    stream = spread_stream(read_document_stream(spark, sf_dir))
    gated = near_dup_gate(stream_minhash_bands(stream))
    # many tiny keyed groups -> the Python state pass, not store setup,
    # bounds this query: use the full local parallelism (events.py note)
    drained = run_to_memory(
        spark, gated, "sdi_near_dup_gate", mode="append", partitions=32
    )
    return gate_verdict(drained)


# -- streaming KMV distinct gate (applyInPandasWithState per hash shard) ------
# The stateful-streaming member of the KMV family (operators/sketch.py,
# q_kmv_distinct): distinct users per event type off the stream with O(k)
# state per (group, hash-shard) and a bit-exact DuckDB oracle — k-mins
# merge associatively, so the drained sketch equals the batch twin under
# ANY micro-batch arrival order.  See streaming/kmv_gate.py.

_STREAM_KMV_K = 8

_STREAM_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         {hash60_sql("'kmv:' || user_id")} AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type,
       CASE WHEN MAX(n) < {_STREAM_KMV_K} THEN MAX(n)
            ELSE {(_STREAM_KMV_K - 1) * TWO_60_INT}
                 // MAX(CASE WHEN rn = {_STREAM_KMV_K} THEN h END)
       END AS kmv_users
FROM r GROUP BY event_type
"""


@query("q_stream_kmv_distinct", _STREAM_KMV_ORACLE)
def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-users-per-type via the KMV sketch: map-only md5
    hashing, a stateful k-mins fold per (event_type, h mod 32) shard, and a
    tiny merge-after-drain that reconstructs the global sketch from the
    per-shard k-mins (their union is a superset of the global k-mins; the
    DISTINCT absorbs stale update-mode rows, so the merge is micro-batch-
    count independent).  The batch COUNT(DISTINCT) twin is the oracle —
    and unlike a streaming HLL, the estimate value-hashes against it.

    This dedups per group by hash (a 60-bit collision would collapse two
    users); the batch q_kmv_distinct keys by user instead — both sides of
    each oracle pair use one convention consistently."""
    from ..operators.sketch import kmv_hash
    from ..streaming.kmv_gate import N_KMV_SHARDS, kmv_distinct_gate

    stream = read_event_stream(spark, sf_dir).select(
        "event_type", kmv_hash(F.col("user_id")).alias("h")
    )
    hashed = stream.withColumn(
        "shard", (F.col("h") % N_KMV_SHARDS).cast("int")
    )
    drained = run_to_memory(
        spark, kmv_distinct_gate(hashed), "sdi_stream_kmv", mode="update"
    )
    merged = (
        drained.select("event_type", F.explode("mins").alias("h"))
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type").orderBy("h")),
        )
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(
                F.when(F.col("rn") == _STREAM_KMV_K, F.col("h"))
            ).alias("h_k"),
        )
        .select(
            "event_type",
            F.when(F.col("n_kept") < _STREAM_KMV_K, F.col("n_kept"))
            .otherwise(
                F.expr(
                    f"CAST({(_STREAM_KMV_K - 1) * TWO_60_INT} AS BIGINT)"
                    " DIV h_k"
                )
            )
            .alias("kmv_users"),
        )
    )


# -- exactly-once transactional sink (r14: the WRITE side of CDC/ingest) -----
# q_stream_cdc_apply proves replayed INPUT batches fold to the same state;
# this query proves replayed OUTPUT batches land exactly once: events are
# split into 4 deterministic micro-batches (md5 of event_id — the same
# batches on every run and engine), applied through the TxnParquetSink
# commit protocol, then batch 2 is REPLAYED (must be a marker-check no-op)
# and a TORN write is simulated (a 5th data partition with no commit
# marker — the crash window between data write and commit).  The returned
# upsert view must equal plain SQL over `events` — i.e. the replay added
# nothing and the torn partition is invisible, or the hashes diverge.
# The unit tests drive the same sink from a real Structured Streaming
# foreachBatch to pin the callback contract (tests/test_txn_sink.py).

_EXACTLY_ONCE_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_op,
       CAST(round(value * 1000, 0) AS BIGINT) AS last_value_milli,
       ts AS last_ts
FROM ranked WHERE rn = 1
"""


# The newest sink table per (calling thread, prefix).  The frame a sink
# query returns reads its table lazily, so the table outlives the query (and
# release_scoped()) until the same thread's next call with that prefix; two
# threads never remove each other's.  The last go with the scratch root.
_SINK_TABLES: dict[tuple[int, str], str] = {}


def _sink_table_dir(prefix: str) -> str:
    """A new empty table directory for ``prefix``; the previous one the
    calling thread made for ``prefix`` is removed first."""
    key = (threading.get_ident(), prefix)
    if key in _SINK_TABLES:
        shutil.rmtree(_SINK_TABLES.pop(key), ignore_errors=True)
    path = _SINK_TABLES[key] = new_dir(prefix)
    return path


def _sink_event_batches(spark: SparkSession, sf_dir: str, prefix: str):
    """A fresh TxnParquetSink (:func:`_sink_table_dir`) with ``events``
    applied as 4 deterministic micro-batches (md5 of event_id).  Returns
    the sink, the events frame and ``batch(b)``, micro-batch b's frame.

    The bucketed frame is persisted EAGERLY, then the 4 applies OVERLAP
    (guide §2.6): each batch writes its own partition dir and commits its
    own marker, so the commit protocol is batch-independent by
    construction and the 4 count+write action pairs run as concurrent
    jobs — the scheduler back-fills each job's straggler tail with the
    next job's tasks, collapsing 8 sequential ~0.1–0.3 s actions (the
    job-latency floor) into ~2 concurrent waves.  Eager matters here: 4
    threads taking their FIRST action on a lazily-persisted frame would
    each recompute the scan+md5 bucket (caching.scoped_persist note)."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.txn_sink import TxnParquetSink

    sink = TxnParquetSink(_sink_table_dir(prefix))
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("b:"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long"),
        F.lit(4),
    )
    batched = scoped_persist(events.withColumn("__b", bucket), eager=True)

    def batch(b: int) -> DataFrame:
        return batched.filter(F.col("__b") == b).drop("__b")

    with ThreadPoolExecutor(max_workers=4) as pool:
        wrote = list(pool.map(lambda b: sink.apply(batch(b), b), range(4)))
    assert all(wrote), f"some batch unexpectedly already committed: {wrote}"
    return sink, events, batch


def _last_by_user(spark: SparkSession, sink) -> DataFrame:
    """The sink's upsert view in the oracle's shape."""
    return sink.latest_by_key(
        spark, "user_id", order=["ts", "event_id"], payload=["event_type", "value"]
    ).select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.round(F.col("value") * 1000, 0).cast("bigint").alias("last_value_milli"),
        F.col("ts").alias("last_ts"),
    )


@query("q_exactly_once_sink", _EXACTLY_ONCE_ORACLE)
def q_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink, events, batch = _sink_event_batches(spark, sf_dir, "sdi_txn_sink_")
    # replay: at-least-once delivery hands batch 2 over again — the marker
    # makes it a no-op, not a duplicate append
    replay_wrote = sink.apply(batch(2), 2)
    assert not replay_wrote, "replayed batch was written twice"
    # torn write: data lands, the writer dies before the commit marker —
    # readers must never see this partition
    events.limit(50).write.mode("overwrite").parquet(
        f"{sink.data_dir}/batch_id=9999"
    )
    assert sink.committed_ids() == [0, 1, 2, 3]
    return _last_by_user(spark, sink)


# The compaction twin: same events, same oracle — after the 4 batches
# commit, compact() rewrites them as ONE superseding partition (the
# small-files remedy at scale), and a TORN compaction is simulated first
# (compacted data written under an uncommitted id — readers must keep
# serving the old generation).  Identical hashes to plain SQL over
# `events` prove compaction is a pure storage-layout change.


@query("q_sink_compaction", _EXACTLY_ONCE_ORACLE)
def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink, _, _ = _sink_event_batches(spark, sf_dir, "sdi_txn_compact_")
    # torn compaction: the rewrite landed but the writer died before the
    # superseding marker — the old generation must still serve reads
    sink.snapshot(spark).drop("batch_id").write.mode("overwrite").parquet(
        f"{sink.data_dir}/batch_id=50"
    )
    assert sink.committed_ids() == [0, 1, 2, 3]
    new_id = sink.compact(spark, target_partitions=4)
    assert new_id is not None and sink.committed_ids() == [new_id]
    # idempotence carries over: a second compact sees one active batch
    assert sink.compact(spark) is None
    return _last_by_user(spark, sink)


# Registered last: _register_tws references _NEAR_DUP_GATE_ORACLE and
# _CLOSED_SESSIONS_ORACLE, which must both be bound before the call.
if _has_tws_runtime():  # pragma: no cover - environment-dependent
    _register_tws()
