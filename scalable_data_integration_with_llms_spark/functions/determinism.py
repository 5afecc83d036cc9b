"""Cross-engine deterministic randomness and exact arithmetic.

The reference threads explicit seeds through every RNG (SURVEY §1.4):
``random.Random(seed)`` column shuffles, ``np.random.default_rng(seed)`` value
sampling, torch manual seeds.  Spark's ``F.rand(seed)`` is seeded *per
partition*, so its stream changes with partitioning — a correctness trap when
results must be stable across recomputation AND reproducible against an
oracle engine.

The engine instead derives randomness from ``md5`` of (seed, key): the same
60-bit integer in any engine, any partitioning, any retry.  This is the
"sample-stability discipline" SURVEY §4 calls for, strengthened from
"cache before reuse" to "stateless recompute-stable".

``hash60`` (Spark) and ``hash60_sql`` (DuckDB oracle) are the only
definition of that integer; every salted hash, shard, sample and sketch in
the engine and its oracles calls one of them:

    hash60(key)      = conv(substr(md5(key), 1, 15), 16, 10)   ∈ [0, 2^60)
    hash60_sql(key)  = ('0x' || substr(md5(key), 1, 15))::BIGINT
    det_rand(seed, key...) = hash60(concat_ws(':', seed, key...)) / 2^60  ∈ [0,1)

Exact money arithmetic: summing doubles is order-dependent, and Spark's
partial-aggregation order differs from any single-node engine — at 60k rows a
sum can drift ~1e-4, enough to break value-hash comparison even after
rounding.  All money aggregates therefore go through integer cents
(round per row → bigint → exact sum), which is bit-identical in every engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^60, the hash range, in the three literal forms the plans and oracles use
TWO_60_INT = 1 << 60
TWO_60 = float(TWO_60_INT)
TWO_60_SQL = f"{TWO_60_INT}.0"  # exactly representable as a double


def hash60(key: Column) -> Column:
    """The cross-engine 60-bit hash of an already-built string key, as a
    bigint in [0, 2^60).  Works on lambda variables of higher-order
    functions too (``F.transform``)."""
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """DuckDB twin of ``hash60`` over the SQL expression ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def det_rand(seed: int | str | Column, *key_cols: Column | str) -> Column:
    """Deterministic uniform [0,1) derived from md5(seed, key...).

    Unlike ``F.rand(seed)`` this is a pure function of the row key: stable
    across partitioning, task retries, and engines (see module docstring for
    the DuckDB-oracle equivalent).  ``seed`` is a literal or a column (the
    oracle's ``seed || ':' || ...`` layout over a seed dimension).
    """
    seed_col = seed if isinstance(seed, Column) else F.lit(str(seed))
    key = F.concat_ws(":", seed_col, *[F.col(c) if isinstance(c, str) else c for c in key_cols])
    return (hash60(key) / F.lit(TWO_60)).cast("double")


def det_shuffle_key(seed: int | str, *key_cols: Column | str) -> Column:
    """Deterministic shuffle ordering key (S1 seeded column shuffle,
    ``utils/data_builder.py:21-24``): sort by md5(seed, name) — an order-only
    surrogate that needs no numeric conversion."""
    key = F.concat_ws(":", F.lit(str(seed)), *[F.col(c) if isinstance(c, str) else c for c in key_cols])
    return F.md5(key)


def cents(col: Column | str, scale: int = 100) -> Column:
    """Per-row exact integer scaling: round(x*scale) as bigint.

    Per-row double ops are order-independent and identical across engines;
    the subsequent bigint SUM is exact.  Present results as
    ``sum_cents / scale / ...`` so both engines perform the same final
    double divisions on identical integers.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale), 0).cast("bigint")


def exact_sum_money(col: Column | str, scale: int = 100) -> Column:
    """Exact sum of a double money column, presented as double."""
    return (F.sum(cents(col, scale)) / F.lit(float(scale))).cast("double")


def exact_avg(col: Column | str, scale: int = 100) -> Column:
    """Exact-sum-based average: (sum_cents/scale)/count — the same two double
    divisions in the oracle reproduce it bit-for-bit."""
    return ((F.sum(cents(col, scale)) / F.lit(float(scale))) / F.count(F.lit(1))).cast("double")
