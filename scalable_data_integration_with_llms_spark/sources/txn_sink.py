"""Exactly-once batch parquet sink (K-family stretch, VERDICT r13 task #7).

The streaming gates (`streaming/near_dup_gate.py`, `q_stream_cdc_apply`)
prove the READ side of the pipeline is replay-safe; this module is the
missing WRITE side: a ``foreachBatch``-shaped parquet upsert that stays
correct when a batch is delivered twice (Structured Streaming's contract is
at-least-once delivery into ``foreachBatch`` — exactly-once is the sink's
job) and when a writer dies between the data write and the commit.

Protocol (a deliberately minimal Delta-style commit log, stdlib-only):

* data for batch *b* lands under ``<table>/data/batch_id=<b>/`` — a plain
  distributed parquet write, append-only at the directory level, so at
  100 TB it is N executors writing their own files with no coordination;
* the batch becomes VISIBLE only when ``<table>/_commits/<b>.json``
  exists.  The marker is written tmp-then-``os.rename`` — atomic on POSIX
  — and is O(bytes) driver-side work per batch;
* replay of a committed batch is a no-op (``apply`` returns ``False``
  without touching storage): idempotence comes from the marker check, not
  from the writer remembering anything, so a NEW driver process replaying
  the last un-acked batch after a crash is also safe;
* a torn write (data files present, no marker — the crash window) is
  invisible to every reader: ``snapshot`` filters the partition column to
  the committed id set.  Re-running the batch overwrites the orphan
  partition and then commits it.

Readers get ``snapshot()`` — the committed union — and
``latest_by_key()``, the upsert view: last writer wins per key, ordered by
``(batch_id, ts)``, computed with one ``max(struct(...))`` aggregation (no
window sort; the same associative-merge shape as the streaming CDC gate).

The reference's closest surface is the pickle experiment cache
(``ExperimentCollection.py:7-28``), which is last-writer-wins with no
crash story; this is what that becomes when the "experiment" is a 100 TB
table and the writer is preemptible.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TxnParquetSink:
    """Transactional parquet table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.commit_dir = os.path.join(path, "_commits")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    # -- write side ----------------------------------------------------------

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{int(batch_id)}.json")

    def _markers(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for f in os.listdir(self.commit_dir):
            if f.endswith(".json") and f[: -len(".json")].isdigit():
                with open(os.path.join(self.commit_dir, f)) as fh:
                    out[int(f[: -len(".json")])] = json.load(fh)
        return out

    @staticmethod
    def _superseded(markers: dict[int, dict]) -> set[int]:
        return {int(b) for m in markers.values() for b in m.get("supersedes", [])}

    def _write_and_commit(self, df: DataFrame, batch_id: int, **extra) -> None:
        """Write ``df`` as partition ``batch_id``, then commit its marker.
        Overwrite, not append: a torn previous attempt may have left orphan
        files in this partition; the retry must replace them, or the
        eventual commit would expose duplicates."""
        n_rows = df.count()
        df.write.mode("overwrite").parquet(
            os.path.join(self.data_dir, f"batch_id={int(batch_id)}")
        )
        marker = self._marker(batch_id)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": int(batch_id), "n_rows": n_rows, **extra}, fh)
        os.rename(tmp, marker)  # the commit point — atomic

    def committed_ids(self) -> list[int]:
        """ACTIVE committed batch ids: every committed id minus those a
        committed compaction supersedes.  A compaction whose data landed
        but whose marker didn't (torn) supersedes nothing — readers keep
        using the original partitions, which is the crash-safety of
        compaction falling out of the same marker rule as ingest."""
        markers = self._markers()
        superseded = self._superseded(markers)
        return sorted(b for b in markers if b not in superseded)

    def apply(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Write one micro-batch exactly once.  Returns True when this call
        performed the write, False when ``batch_id`` was already committed
        (the replay path).  Safe to call from ``foreachBatch`` directly."""
        if os.path.exists(self._marker(batch_id)):
            return False
        self._write_and_commit(batch_df, batch_id)
        return True

    def compact(self, spark: SparkSession, target_partitions: int | None = None) -> int | None:
        """Small-files compaction (the real 100 TB operational problem with
        one-partition-per-batch layouts): rewrite the ACTIVE committed
        batches as ONE new partition whose marker supersedes them.  The
        same commit rule gives crash safety for free — a compaction that
        dies after writing data but before its marker leaves the table
        exactly as it was — and replaying a committed compaction id is the
        same marker-check no-op as any batch.  Superseded data files
        become garbage, unreferenced but present, collectable out-of-band
        (never deleted inline: a reader that listed partitions just before
        the commit may still be streaming them).

        Ordering caveat: rewritten rows all carry the NEW batch id, so the
        delivery-order tiebreak in ``latest_by_key`` collapses for rows
        whose ``order`` columns tie.  The view is exactly preserved
        whenever ``order`` is decisive per key (the usual CDC shape — a
        (ts, seq) changelog); a table that relies on delivery order for
        correctness should materialize the view before compacting.

        Returns the new batch id, or None when fewer than two active
        batches exist (nothing to merge)."""
        ids = self.committed_ids()
        if len(ids) < 2:
            return None
        new_id = max(self._markers()) + 1
        snap = self.snapshot(spark).drop("batch_id")
        if target_partitions:
            snap = snap.repartition(target_partitions)
        # the marker is the commit: the old generation is visible until then
        self._write_and_commit(snap, new_id, supersedes=ids)
        return new_id

    def vacuum(self) -> list[int]:
        """Delete the data partitions of SUPERSEDED batches — the garbage a
        compaction leaves behind.  Only superseded partitions are touched:
        they were committed and then atomically replaced, so no reader that
        started after the compaction commit can reference them (a reader
        that listed before it may still stream them — at scale you gate
        this behind a retention window, the same rule as any MVCC vacuum;
        here the caller decides when it is safe).  Torn/uncommitted
        partitions are NEVER vacuumed: an id with data but no marker is
        indistinguishable from a write in flight.  Returns the batch ids
        whose data was removed."""
        import shutil

        removed = []
        for b in sorted(self._superseded(self._markers())):
            part_dir = os.path.join(self.data_dir, f"batch_id={b}")
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
                removed.append(b)
        return removed

    # -- read side -----------------------------------------------------------

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Union of COMMITTED batches only.  ``basePath`` keeps ``batch_id``
        as a partition column; uncommitted/torn partitions are pruned by the
        isin filter — partition pruning makes the exclusion a metadata
        operation, no orphan file is ever opened."""
        ids = self.committed_ids()
        df = (
            spark.read.option("basePath", self.data_dir)
            .parquet(self.data_dir)
        )
        return df.filter(F.col("batch_id").isin(ids) if ids else F.lit(False))

    def latest_by_key(
        self, spark: SparkSession, key: str, order: list[str], payload: list[str]
    ) -> DataFrame:
        """Upsert view: one row per ``key``, the payload of the greatest
        ``(*order, batch_id)`` row — data-level ordering first (so the view
        is expressible as plain SQL over the union, independent of how rows
        were batched), delivery order as the final tiebreak — computed with
        one hash aggregation, no global sort."""
        snap = self.snapshot(spark)
        pick = F.max(F.struct(*order, "batch_id", *payload)).alias("w")
        return snap.groupBy(key).agg(pick).select(
            key, *[F.col(f"w.{c}").alias(c) for c in order + payload]
        )
