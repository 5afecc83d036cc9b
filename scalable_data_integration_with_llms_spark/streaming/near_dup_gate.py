"""Streaming near-duplicate ingest gate (SURVEY §2.10 additive path;
``applyInPandasWithState`` keyed by MinHash-LSH bucket).

The batch near-dup stack (operators/dedup.py) answers "which documents in
this corpus are near-duplicates of each other".  An ingestion pipeline asks
the online version: "is this ARRIVING document a near-duplicate of anything
already admitted" — the gate a 100 TB training-data feed runs continuously.

Two stages, both bounded:

1. **Map-only MinHash banding** (:func:`stream_minhash_bands`): word
   ``SHINGLE_N``-gram shingles, the ``N_PERM`` salted 60-bit md5 hashes,
   and per-permutation minima all computed as ARRAY expressions on each
   row — no groupBy, so the only stateful shuffle in the whole stream is
   the gate itself.  Shape, salted hash and band-signature builder are the
   batch operator's own (``operators/dedup``, pinned by a parity test), so
   stream and batch stages of one pipeline agree on what a bucket is.
   (The batch operator keeps its groupBy formulation of the minima,
   ``dedup.minhash_minima``: at rest the shuffle carries |docs| x N_PERM
   minima either way, but a *stream* must not re-shuffle per micro-batch.)

2. **Per-bucket first-wins gate** (:func:`near_dup_gate`): state per
   (band, signature) bucket is ONE bigint — the smallest doc id seen.  A
   document is flagged in a bucket iff a smaller id was already seen there.
   State is O(distinct buckets), not O(documents x permutations).  The
   per-bucket transition is :func:`_gate_step`; the
   ``applyInPandasWithState`` function and the TWS processor only read and
   write their state API around it.

Determinism contract (the q_sessionization bounded-drain precedent): with
an ``availableNow`` drain of the single-file documents feed, every bucket's
rows arrive in one micro-batch, so "first seen" == "minimum doc_id" and the
drained result equals the batch SQL twin exactly (the oracle).  On a live
multi-batch feed the same code degrades gracefully to first-ARRIVAL-wins —
which is the semantics a real ingest gate wants (yesterday's admissions
don't retract), it just can't be oracle-compared without arrival order.

Reference anchor: the dedup-before-compare discipline of the matching
pipeline (Stable Schema Matching/utils/data_builder.py deduplicates inputs
before prompting); this operator is the streaming generalization the
reference's offline scripts never needed.

Cost breakdown at sf0.1 (round-6 measurement, local[32]): harness floor
(passthrough stream drain) 0.4s; banding 1.6s once the feed is
repartitioned (the file stream source yields one partition per FILE, so a
single-file feed otherwise runs the whole 17M-md5 banding on one core —
5.4s); the per-bucket Python state pass ~1.8s (~100µs/bucket of
JVM→Arrow→pandas framing over ~20k buckets — inherent to the per-group
``applyInPandasWithState`` API, already vectorized inside the group);
verdict rollup the remainder.  Total 8.5s → 3.8s.  State-partition sweep:
16/32/64 → 4.5/3.8/4.9s, so 32 stays pinned in the query.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.text import ngram_strings, word_tokens
from ..operators.dedup import (
    N_PERM,
    SHINGLE_N,
    _band_signatures,
    _perm_hash,
    require_documents,
)

GATE_OUT_SCHEMA = "doc bigint, band int, is_dup boolean"
_GATE_STATE_SCHEMA = "min_doc bigint"


def stream_minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc, band, signature) MinHash-LSH rows via map-only array
    expressions — streaming-safe (no pre-gate aggregation) and byte-equal
    to the batch ``minhash_signatures`` output.

    NOTE: ``F.transform`` passes the element INDEX as a second lambda
    argument, so the permutation salt must be bound by a closure factory —
    a two-parameter lambda with a default would silently hash with the
    index instead of the salt.
    """
    def perm_min(p: int):
        return F.array_min(F.transform(F.col("grams"), lambda s: _perm_hash(p, s)))

    # Build the gram array ONCE in its own projection: inlining it into the
    # N_PERM hash expressions re-ran the gram construction once per
    # permutation (CollapseProject keeps the projection because "grams" is
    # referenced N_PERM times and is not a cheap expression).  array_distinct
    # is free correctness headroom: min over a multiset equals min over its
    # support, and the batch twin's shingle frame is distinct per doc
    # already, so hashing each gram once per permutation matches the batch
    # operator's work exactly.
    mins = (
        require_documents(docs)
        .select(F.col("doc_id").alias("doc"), word_tokens("text").alias("ws"))
        # too few tokens -> no shingles (oracle drops them too)
        .filter(F.size("ws") >= SHINGLE_N)
        .select("doc", F.array_distinct(ngram_strings(F.col("ws"), SHINGLE_N)).alias("grams"))
        .select("doc", *[perm_min(p).alias(f"m{p}") for p in range(N_PERM)])
    )
    return _band_signatures(mins)


def _gate_step(
    band, pdfs: Iterator[pd.DataFrame], min_doc: int | None
) -> tuple[int, pd.DataFrame]:
    """First-wins step for one (band, signature) bucket: flag each arriving
    doc that has a smaller id before it, given the bucket's stored minimum
    (None for a new bucket); returns the new minimum and the flags."""
    # Hot path runs once per bucket (tens of thousands of tiny groups per
    # micro-batch), so stay vectorized: no pandas sort_values / row loop.
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    docs = pdf["doc"].to_numpy()
    if len(docs) > 1:
        docs = np.sort(docs)
    # Within one ascending-sorted batch, a doc has a smaller predecessor iff
    # it exceeds min(state, batch minimum) — doc ids are unique per bucket.
    floor = docs[0] if min_doc is None else min(min_doc, docs[0])
    return int(floor), pd.DataFrame({"doc": docs, "band": band, "is_dup": docs > floor})


def _gate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    floor, flags = _gate_step(key[0], pdfs, state.get[0] if state.exists else None)
    state.update((floor,))
    yield flags


def near_dup_gate(banded: DataFrame) -> DataFrame:
    """Apply the per-bucket first-wins gate to a (doc, band, signature)
    stream; one shuffle on the bucket key, one bigint of state per bucket."""
    return banded.groupBy("band", "signature").applyInPandasWithState(
        _gate,
        outputStructType=GATE_OUT_SCHEMA,
        stateStructType=_GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- transformWithStateInPandas twin (Spark 4 stateful API) -------------------
# Same first-wins semantics on the successor API: RocksDB state store
# (off-heap, incremental snapshots — the right engine for 100×-more
# buckets), value state still one bigint per bucket.  Import of the
# StatefulProcessor base is deferred to call sites that are registration-
# gated on the TWS runtime (queries/streaming_q.py:_has_tws_runtime);
# the processor LOGIC is environment-independent and unit-tested directly
# with a fake handle (tests/test_streaming_state.py).


def make_gate_processor():
    """Build the TWS first-wins processor class (deferred base import so
    this module stays importable without the TWS runtime)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class GateProcessor(StatefulProcessor):
        """Per-(band, signature) bucket: emit a flag per doc, keep the
        bucket minimum in one bigint of value state — the same
        :func:`_gate_step` as :func:`_gate`."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._min_doc = handle.getValueState("min_doc", _GATE_STATE_SCHEMA)

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            prev = self._min_doc.get()[0] if self._min_doc.exists() else None
            floor, flags = _gate_step(key[0], rows, prev)
            self._min_doc.update((floor,))
            yield flags

        def close(self) -> None:
            pass

    return GateProcessor


def near_dup_gate_tws(banded: DataFrame) -> DataFrame:
    """The gate on ``transformWithStateInPandas`` (requires the TWS
    runtime + RocksDB provider; see queries/streaming_q.py for the gated
    registration and provider plumbing)."""
    return banded.groupBy("band", "signature").transformWithStateInPandas(
        statefulProcessor=make_gate_processor()(),
        outputStructType=GATE_OUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
