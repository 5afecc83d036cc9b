"""Streaming KMV distinct-count gate (``applyInPandasWithState`` keyed by
(group, hash-shard)) — the standing distinct-users counter a dashboard
reads off a stream with O(k) state per keyed shard.

Batch COUNT(DISTINCT) over a stream needs unbounded state (every key ever
seen); the KMV sketch (operators/sketch.py) needs only the k smallest
60-bit md5 hashes, and k-mins MERGE associatively — min-k of a union is
min-k of the per-part min-k's — so the state is a <=k-element bigint array
no matter how many rows flow through.  Because the hashes are md5-derived
(functions/determinism.py:hash60), the drained estimate is bit-identical to
the batch twin's, giving a STATEFUL STREAMING sketch a full DuckDB value
oracle — the HLL-shaped thing production streams run, here exactly
checkable.

Scale shape:

* The hash is computed map-only; the only stateful shuffle keys by
  (group, h % N_SHARDS).  Sharding the hash space breaks the few-groups
  skew a low-cardinality group domain (5 event types) would otherwise
  concentrate on 5 tasks: each shard holds its own k-mins, and the union
  of per-shard k-mins is a superset of the global k-mins, so a tiny
  merge-after-drain (N_SHARDS*k rows per group) reconstructs the global
  sketch exactly.
* The state fold consumes the Arrow chunk ITERATOR incrementally —
  memory per group is O(chunk + k), never O(group) — unlike a
  concat-then-process fold, this survives a group that outgrows executor
  memory.
* Within a shard ``np.unique`` collapses duplicate hashes (re-seen users
  AND 60-bit collisions); across shards hashes are disjoint by
  construction (h mod N_SHARDS), so the drained union is exactly the
  distinct-hash set's k-mins.  The oracle mirrors this with DISTINCT
  (group, h).

Determinism contract (the near-dup gate's bounded-drain precedent): the
merge is order- and batching-independent — the drained result equals the
batch twin under ANY micro-batch arrival order, not just the single-batch
availableNow drain.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sketch import KMV_K

KMV_GATE_OUT_SCHEMA = "event_type string, shard int, mins array<bigint>"
_KMV_GATE_STATE_SCHEMA = "mins array<bigint>"
N_KMV_SHARDS = 32


def _kmv_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one (group, shard)'s arriving hashes into its k-mins state and
    emit the updated sketch row."""
    mins = (
        np.asarray(state.get[0], dtype=np.int64)
        if state.exists
        else np.empty(0, dtype=np.int64)
    )
    for pdf in pdfs:  # chunk-incremental: O(chunk + k) memory, never O(group)
        hs = pdf["h"].to_numpy(dtype=np.int64)
        mins = np.unique(np.concatenate([mins, hs]))[:KMV_K]
    state.update((mins.tolist(),))
    yield pd.DataFrame(
        {"event_type": [key[0]], "shard": [key[1]], "mins": [mins.tolist()]}
    )


def kmv_distinct_gate(hashed: DataFrame) -> DataFrame:
    """Apply the per-(group, shard) k-mins fold to a (event_type, shard, h)
    stream; one stateful shuffle, a <=k bigint array of state per shard."""
    return hashed.groupBy("event_type", "shard").applyInPandasWithState(
        _kmv_fold,
        outputStructType=KMV_GATE_OUT_SCHEMA,
        stateStructType=_KMV_GATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

