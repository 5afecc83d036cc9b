"""Stateful streaming sessionization: applyInPandasWithState vs the batch
gap formulation on the same data (closed sessions must agree)."""

from scalable_data_integration_with_llms_spark.streaming.events import read_event_stream
from scalable_data_integration_with_llms_spark.streaming.sessions import sessionize_stream


def test_streaming_sessionization_matches_batch(spark, tmp_path):
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in QUERIES["q_sessionization"](spark, sf_dir).collect()
    }

    stream = read_event_stream(spark, sf_dir)
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sdi_sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in spark.table("sdi_sessions_test").collect()
    }
    # single availableNow pass: only sessions closed by a later event are
    # emitted (each user's final open session stays in state awaiting
    # timeout) — every emitted session must match the batch result exactly
    assert emitted, "no closed sessions emitted"
    for key, val in emitted.items():
        assert key in batch, f"streaming emitted unknown session {key}"
        assert val == batch[key], f"mismatch for {key}: {val} != {batch[key]}"
    # and the emitted set is exactly the batch sessions minus each user's last
    last_per_user = {}
    for (u, sid) in batch:
        last_per_user[u] = max(last_per_user.get(u, 0), sid)
    expected_closed = {k for k in batch if k[1] != last_per_user[k[0]]}
    assert set(emitted) == expected_closed


def test_stream_minhash_bands_byte_equal_to_batch(spark):
    """The map-only streaming signature path must produce EXACTLY the batch
    operator's (doc, band, signature) rows — stream and batch stages of one
    pipeline have to agree on what a bucket is."""
    from scalable_data_integration_with_llms_spark.operators.dedup import (
        minhash_signatures, word_shingles,
    )
    from scalable_data_integration_with_llms_spark.sources.readers import load_table
    from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
        stream_minhash_bands,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = sorted(map(tuple, stream_minhash_bands(d).collect()))
    want = sorted(map(tuple, minhash_signatures(word_shingles(d)).collect()))
    assert got == want and len(got) > 0


def test_near_dup_gate_first_wins(spark):
    """Gate semantics on the drained stream: the minimum doc of every bucket
    is never flagged, any doc sharing a bucket with a smaller one is flagged
    in exactly its colliding bands, and planted near-dup pairs collide."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.sources.readers import load_table
    from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
        stream_minhash_bands,
    )

    sf = "/root/testdata/sf0.001"
    verdicts = {r.doc_id: (r.n_dup_bands, r.admitted)
                for r in QUERIES["q_stream_near_dup_gate"](spark, sf).collect()}
    assert all((n == 0) == adm for n, adm in verdicts.values())

    # independent batch recomputation of expected dup-band counts
    buckets: dict = {}
    d = load_table(spark, sf, "documents")
    for r in stream_minhash_bands(d).collect():
        buckets.setdefault((r.band, r.signature), []).append(r.doc)
    expect: dict = {doc: 0 for doc in verdicts}
    for docs in buckets.values():
        m = min(docs)
        for doc in docs:
            if doc > m:
                expect[doc] += 1
    assert verdicts == {doc: (n, n == 0) for doc, n in expect.items()}
    assert any(n > 0 for n, _a in verdicts.values())  # planted dups exist


def test_near_dup_gate_multi_batch_replay(spark, tmp_path):
    """Cross-micro-batch state: replay the corpus as THREE doc_id-ordered
    files with maxFilesPerTrigger=1 (three micro-batches), so buckets
    spanning batches exercise the GroupState persistence path.  With
    ordered replay, first-arrival == min doc id, so the drained verdict
    must STILL equal the single-batch run."""
    import os
    import time as _time

    import pyarrow.parquet as pq
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.streaming.events import run_to_memory
    from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
        near_dup_gate, stream_minhash_bands,
    )

    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    df = tbl.to_pandas().sort_values("doc_id").reset_index(drop=True)
    feed = tmp_path / "feed"
    feed.mkdir()
    n = len(df)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        p = feed / f"part-{i:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(df.iloc[lo:hi], preserve_index=False), p)
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))  # ordered mtimes

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    gated = near_dup_gate(stream_minhash_bands(stream))
    drained = run_to_memory(spark, gated, "sdi_gate_multibatch", mode="append")
    got = {
        r.doc_id: (r.n_dup_bands, r.admitted)
        for r in drained.groupBy(F.col("doc").alias("doc_id"))
        .agg(F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("int").alias("n_dup_bands"))
        .withColumn("admitted", F.col("n_dup_bands") == 0)
        .collect()
    }
    want = {
        r.doc_id: (r.n_dup_bands, r.admitted)
        for r in QUERIES["q_stream_near_dup_gate"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want

    # prove the replay really crossed state: some bucket must span two
    # files (its later doc's verdict depends on state from an earlier
    # micro-batch — measured 49 such buckets at sf0.001)
    d = spark.read.schema(schema).parquet(str(feed))
    buckets: dict = {}
    for r in stream_minhash_bands(d).collect():
        buckets.setdefault((r.band, r.signature), []).append(r.doc)
    thirds = (n // 3, 2 * n // 3)
    def file_of(doc):
        return 0 if doc < thirds[0] else (1 if doc < thirds[1] else 2)
    assert any(
        len(docs) > 1 and len({file_of(x) for x in docs}) > 1
        for docs in buckets.values()
    )


def test_gate_processor_logic_first_wins_across_batches():
    """The TWS gate processor's per-batch logic, exercised directly (no
    TWS runtime needed — the container lacks google.protobuf): first
    batch admits the minimum, later batches flag anything above the
    stored floor, state stays one bigint."""
    import pandas as pd

    from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
        make_gate_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

    proc = make_gate_processor()()
    handle = FakeHandle()
    proc.init(handle)

    b1 = pd.DataFrame({"doc": [30, 10, 20]})
    out1 = pd.concat(list(proc.handleInputRows((2, "sig"), iter([b1]), None)))
    assert out1.doc.tolist() == [10, 20, 30]
    assert out1.is_dup.tolist() == [False, True, True]
    assert out1.band.tolist() == [2, 2, 2]
    assert handle.state.get() == (10,)

    # later batch: smaller doc wins retroactively within ITS batch only
    # (first-arrival semantics), floor updates
    b2 = pd.DataFrame({"doc": [5]})
    out2 = pd.concat(list(proc.handleInputRows((2, "sig"), iter([b2]), None)))
    assert out2.is_dup.tolist() == [False]
    assert handle.state.get() == (5,)

    b3 = pd.DataFrame({"doc": [7]})
    out3 = pd.concat(list(proc.handleInputRows((2, "sig"), iter([b3]), None)))
    assert out3.is_dup.tolist() == [True]


def test_tws_gate_registration_matches_runtime(spark):
    import importlib.util

    from scalable_data_integration_with_llms_spark.queries import QUERIES

    try:
        has = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has = False
    assert ("q_stream_near_dup_gate_tws" in QUERIES) == has


def _event_counts(spark):
    from conftest import SF_DIR

    return read_event_stream(spark, SF_DIR).groupBy("event_type").count()


def test_drain_holds_its_conf_only_through_start(spark, monkeypatch):
    """The drain's shuffle partition count and state-store provider are
    pinned when the query starts; the caller's values are back before the
    query drains, and the finished query still ran its state store on the
    drain's partitions and provider."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql.streaming import StreamingQuery

    from scalable_data_integration_with_llms_spark.streaming.events import (
        _PROVIDER_KEY,
        run_to_memory,
    )

    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    key = "spark.sql.shuffle.partitions"
    caller = spark.conf.get(key)
    caller_provider = spark.conf.get(_PROVIDER_KEY, None)
    assert caller_provider != rocksdb
    spark.conf.set(key, "5")
    seen, queries = [], []
    wait = StreamingQuery.awaitTermination

    def recording_wait(self, *args, **kwargs):
        seen.append((spark.conf.get(key), spark.conf.get(_PROVIDER_KEY, None)))
        queries.append(self)
        return wait(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", recording_wait)
    try:
        rows = run_to_memory(
            spark, _event_counts(spark), "sdi_conf_window", provider=rocksdb
        ).collect()
        assert seen == [("5", caller_provider)]
        assert spark.conf.get(key) == "5"
        assert spark.conf.get(_PROVIDER_KEY, None) == caller_provider
    finally:
        spark.conf.set(key, caller)
    assert rows
    buf = io.StringIO()
    with redirect_stdout(buf):
        queries[0].explain(True)
    assert "numPartitions = 8" in buf.getvalue()
    # only the RocksDB store reports rocksdb* custom metrics
    ops = queries[0].lastProgress["stateOperators"]
    assert ops and any(m.startswith("rocksdb") for m in ops[0]["customMetrics"])


def test_dump_plans_compares_stream_side_plans(spark, tmp_path, monkeypatch, capsys):
    """tools/dump_plans.py pins a drained query's streaming plan and a batch
    join in ledger entries: an identical rebuild matches, and the drain on
    another state partition count, or the join on another strategy, moves
    its entry with that change named in the shape diff."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    import dump_plans
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.streaming.events import run_to_memory

    monkeypatch.setattr(dump_plans, "TEXT_DIR", str(tmp_path))
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    caller = spark.conf.get(threshold)

    def drain(partitions):
        return lambda: run_to_memory(
            spark, _event_counts(spark), "sdi_plan_dump", partitions=partitions
        )

    def join(broadcast):
        def run():
            left, right = spark.range(100), spark.range(10)
            spark.conf.set(threshold, caller if broadcast else "-1")
            return left.join(F.broadcast(right) if broadcast else right, "id")
        return run

    def build(**runs):
        entries, plans = {}, []
        try:
            for name, run in runs.items():
                plans.append(dump_plans.dump_plan(spark, run))
                entries[name] = dump_plans.ledger_entry(plans[-1])
        finally:
            spark.conf.set(threshold, caller)
        return entries, plans

    pinned, plans = build(drain=drain(8), join=join(True))
    assert "numPartitions = 8" in plans[0]
    assert pinned["drain"]["shape"]["stream"]["stateful"]["StateStoreSave numPartitions=8"] == 1
    assert pinned["join"]["shape"]["batch"]["joins"] == {"BroadcastHashJoin": 1}

    assert dump_plans.compare(pinned, build(drain=drain(8), join=join(True))[0]) == 0
    capsys.readouterr()
    assert dump_plans.compare(pinned, build(drain=drain(4))[0]) == 1
    out = capsys.readouterr().out
    assert "stream.stateful.StateStoreSave numPartitions=4: 0 -> 1" in out
    assert "numPartitions = 4" in out  # the masked text diff
    assert dump_plans.compare(pinned, build(join=join(False))[0]) == 1
    out = capsys.readouterr().out
    assert "batch.joins.BroadcastHashJoin: 1 -> 0" in out
    assert "batch.joins.SortMergeJoin: 0 -> 1" in out


def test_concurrent_drains_start_with_their_own_conf(spark, monkeypatch):
    """Two drains started at once, at 8 and 32 shuffle partitions, each
    start with their own value: the drain holds one lock from setting its
    conf to restoring the caller's.  ``start()`` is slowed so that, without
    the lock, each drain would set its value inside the other's window."""
    import io
    import time
    from concurrent.futures import ThreadPoolExecutor
    from contextlib import redirect_stdout

    from pyspark.sql.streaming import DataStreamWriter

    from scalable_data_integration_with_llms_spark.streaming.events import run_to_memory

    started = {}
    start = DataStreamWriter.start

    def slow_start(self, *args, **kwargs):
        time.sleep(1.0)
        query = start(self, *args, **kwargs)
        started[query.name] = query
        return query

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)

    def drain(partitions: int) -> int:
        return run_to_memory(
            spark, _event_counts(spark), f"sdi_conf_{partitions}", partitions=partitions
        ).count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        assert all(n > 0 for n in pool.map(drain, (8, 32), timeout=600))
    assert len(started) == 2
    for name, query in started.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            query.explain(True)
        assert f"numPartitions = {name.split('_')[2]}" in buf.getvalue(), name
