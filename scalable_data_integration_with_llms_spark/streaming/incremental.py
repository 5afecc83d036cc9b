"""Incremental matching via foreachBatch (SURVEY §7 step 11: "readStream +
watermark + foreachBatch into the same matching operators").

A stream of *case catalog rows* — new matching tasks arriving over time —
drives the exact batch pipeline per micro-batch: candidate generation →
mock/LLM scoring → preference ranking → stable matching.  Each batch's
alignments append to a parquet sink keyed by batch id, so downstream
consumers see matching results grow as cases arrive.

This is the composition pattern for production: the operators are the
*batch* operators (no streaming variants to maintain); Structured Streaming
provides ordering, checkpointing, and exactly-once sink semantics around
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.boundary import mock_score_candidates
from ..operators.candidates import generate_candidates, rank_preferences
from ..operators.stable_matching import stable_match


def match_batch(catalog_batch: DataFrame, top_k: int = 3) -> DataFrame:
    """The per-batch pipeline: catalog rows (case_id, side, col_name,
    col_type) → (case_id, round, src, tgt).

    Candidates repartition by ``case_id``: micro-batch size is unbounded in
    the streaming path, and stable matching is per-case anyway, so keying
    the exchange by case keeps every downstream stage parallel (a
    ``coalesce(1)`` here — fine for the few-hundred-row static case set —
    would serialize the whole batch through one task at scale)."""
    cands = generate_candidates(catalog_batch).repartition("case_id")
    # no persist: stable_match reads the preferences once (one
    # groupBy-applyInPandas), and nothing would unpersist them per batch
    return stable_match(rank_preferences(mock_score_candidates(cands)), top_k=top_k)


def run_incremental_matching(
    spark: SparkSession,
    catalog_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    top_k: int = 3,
):
    """Drive ``match_batch`` from a stream of catalog rows into a parquet
    sink.  availableNow-compatible; returns the StreamingQuery handle."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        matches = match_batch(batch_df, top_k=top_k)
        matches.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_path)

    return (
        catalog_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
