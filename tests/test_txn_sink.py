"""Exactly-once transactional parquet sink (sources/txn_sink.py): commit
markers gate visibility, replays are no-ops, torn writes are invisible and
recoverable, and the sink's apply() is a working foreachBatch callback on a
real Structured Streaming drain."""

import os

from pyspark.sql import functions as F

from scalable_data_integration_with_llms_spark.sources.txn_sink import TxnParquetSink


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_replay_is_noop(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    df = _mk(spark, [(1, "a"), (2, "b")])
    assert sink.apply(df, 0) is True
    n1 = sink.snapshot(spark).count()
    # at-least-once redelivery of the same batch id: marker check short-
    # circuits before any storage touch
    assert sink.apply(df, 0) is False
    assert sink.snapshot(spark).count() == n1 == 2
    assert sink.committed_ids() == [0]


def test_torn_write_invisible_then_recovered(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(_mk(spark, [(1, "a")]), 0)
    # crash window: batch 7's data landed but the writer died before the
    # commit marker — snapshot must not see it
    orphan = _mk(spark, [(9, "junk"), (10, "junk")])
    orphan.write.mode("overwrite").parquet(os.path.join(sink.data_dir, "batch_id=7"))
    assert sink.snapshot(spark).count() == 1
    assert sink.committed_ids() == [0]
    # the retry re-applies batch 7 with its TRUE content: the orphan files
    # are overwritten (not appended to) and only then committed
    assert sink.apply(_mk(spark, [(3, "c")]), 7) is True
    rows = {(r.k, r.v) for r in sink.snapshot(spark).select("k", "v").collect()}
    assert rows == {(1, "a"), (3, "c")}


def test_marker_write_is_atomic(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(_mk(spark, [(1, "a")]), 3)
    # tmp-then-rename leaves no .tmp behind and non-numeric files are
    # ignored by the committed-id scan
    assert os.listdir(sink.commit_dir) == ["3.json"]
    open(os.path.join(sink.commit_dir, "garbage.txt"), "w").close()
    assert sink.committed_ids() == [3]


def test_latest_by_key_upsert_view(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(
        spark.createDataFrame([(1, 10, "old"), (2, 10, "only")], "k int, ts int, v string"), 0
    )
    sink.apply(spark.createDataFrame([(1, 20, "new")], "k int, ts int, v string"), 1)
    # same key, same ts in a LATER batch: delivery order is the tiebreak
    sink.apply(spark.createDataFrame([(2, 10, "rewritten")], "k int, ts int, v string"), 2)
    view = sink.latest_by_key(spark, "k", order=["ts"], payload=["v"])
    rows = {(r.k, r.ts, r.v) for r in view.collect()}
    assert rows == {(1, 20, "new"), (2, 10, "rewritten")}


def test_compaction_preserves_data_and_supersedes(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(_mk(spark, [(1, "a"), (2, "b")]), 0)
    sink.apply(_mk(spark, [(3, "c")]), 1)
    before = {(r.k, r.v) for r in sink.snapshot(spark).select("k", "v").collect()}
    new_id = sink.compact(spark)
    assert new_id == 2
    # one active partition, same data columns (batch_id is rewritten)
    assert sink.committed_ids() == [2]
    after = {(r.k, r.v) for r in sink.snapshot(spark).select("k", "v").collect()}
    assert after == before == {(1, "a"), (2, "b"), (3, "c")}
    # nothing left to merge; replay-compaction is a no-op
    assert sink.compact(spark) is None
    # new ingest after compaction composes: ids continue past the marker max
    sink.apply(_mk(spark, [(4, "d")]), 3)
    assert sink.committed_ids() == [2, 3]
    assert sink.snapshot(spark).count() == 4


def test_torn_compaction_keeps_old_generation(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(_mk(spark, [(1, "a")]), 0)
    sink.apply(_mk(spark, [(2, "b")]), 1)
    # compacted data landed under an uncommitted id — the crash window
    sink.snapshot(spark).drop("batch_id").write.mode("overwrite").parquet(
        os.path.join(sink.data_dir, "batch_id=9")
    )
    assert sink.committed_ids() == [0, 1]
    assert sink.snapshot(spark).count() == 2


def test_vacuum_removes_only_superseded(spark, tmp_path):
    sink = TxnParquetSink(str(tmp_path / "t"))
    sink.apply(_mk(spark, [(1, "a")]), 0)
    sink.apply(_mk(spark, [(2, "b")]), 1)
    # a torn/in-flight partition must survive vacuum (no marker = maybe
    # a writer mid-flight)
    _mk(spark, [(9, "j")]).write.mode("overwrite").parquet(
        os.path.join(sink.data_dir, "batch_id=8")
    )
    assert sink.vacuum() == []  # nothing superseded yet
    sink.compact(spark)
    assert sink.vacuum() == [0, 1]
    assert sink.vacuum() == []  # idempotent
    assert os.path.isdir(os.path.join(sink.data_dir, "batch_id=8"))
    rows = {(r.k, r.v) for r in sink.snapshot(spark).select("k", "v").collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_foreach_batch_integration(spark, tmp_path):
    """The sink's apply IS a foreachBatch callback: drain the sf0.001 event
    stream through a real Structured Streaming query writing via the sink,
    then check the committed snapshot equals the batch read."""
    from scalable_data_integration_with_llms_spark.sources.readers import load_table
    from scalable_data_integration_with_llms_spark.streaming.events import read_event_stream

    sf = "/root/testdata/sf0.001"
    sink = TxnParquetSink(str(tmp_path / "t"))
    stream = read_event_stream(spark, sf).select("event_id", "user_id", "value")
    handle = (
        stream.writeStream.foreachBatch(sink.apply)
        .queryName("sdi_txn_sink_test")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    handle.awaitTermination()
    assert len(sink.committed_ids()) >= 1
    batch = load_table(spark, sf, "events")
    assert sink.snapshot(spark).count() == batch.count()
    got = sink.snapshot(spark).agg(F.sum("event_id")).collect()[0][0]
    want = batch.agg(F.sum("event_id")).collect()[0][0]
    assert got == want


def test_sink_queries_keep_one_table_per_prefix(spark):
    """Each run of a sink query removes the table its thread's previous run
    left, so repeated runs keep at most one ``sdi_txn_sink_*`` directory per
    thread; the frame each thread's last run returned still reads its
    table, also when another thread runs the query at the same time."""
    import glob
    from concurrent.futures import ThreadPoolExecutor

    from scalable_data_integration_with_llms_spark import scratch
    from scalable_data_integration_with_llms_spark.caching import release_scoped
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    pattern = os.path.join(scratch.root(), "sdi_txn_sink_*")
    before = set(glob.glob(pattern))
    for _ in range(2):
        df = QUERIES["q_exactly_once_sink"](spark, "/root/testdata/sf0.001")
        release_scoped()
    assert len(set(glob.glob(pattern)) - before) <= 1
    assert df.count() > 0

    def twice() -> int:
        for _ in range(2):
            mine = QUERIES["q_exactly_once_sink"](spark, "/root/testdata/sf0.001")
            release_scoped()
        return mine.count()

    before = set(glob.glob(pattern))
    with ThreadPoolExecutor(max_workers=2) as pool:
        counts = [f.result(timeout=600) for f in [pool.submit(twice) for _ in range(2)]]
    assert counts == [df.count()] * 2
    assert len(set(glob.glob(pattern)) - before) <= 2
