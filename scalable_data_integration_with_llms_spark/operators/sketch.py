"""Count-min sketch — fixed-size frequency summary for heavy-hitter queries
over unbounded key domains (the sketch a 100 TB pipeline keeps when the
exact groupBy's distinct-key state would not fit).

Hashes are hash60(j ':' key) (functions/determinism.py:hash60), so
every cell — and therefore every estimate — is bit-identical in any engine:
the sketch itself is DuckDB-oracle-checkable, no tolerance needed.

Scale shape: keys are pre-aggregated FIRST (one shuffle of distinct keys,
map-side combine does the heavy lifting), then the tiny distinct-key frame
explodes ×depth into cells.  The sketch is depth × width rows regardless of
input size; estimation is a broadcast join against it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.determinism import TWO_60_INT, hash60


def _cms_col(j, key, width: int):
    """Column index of `key` in sketch row `j`: md5-derived 60-bit hash mod
    width (non-negative)."""
    return hash60(F.concat_ws(":", j.cast("string"), key.cast("string"))) % width


def count_min_cells(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: (j, col, cell) counter matrix, depth × width cells."""
    keyc = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    rows = keyc.select(
        "key", "cnt", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    )
    return (
        rows.select("j", _cms_col(F.col("j"), F.col("key"), width).alias("col"), "cnt")
        .groupBy("j", "col")
        .agg(F.sum("cnt").alias("cell"))
    )


def _pow2_literal():
    """Array literal of the 64 single-bit words (two's-complement for the
    sign bit) — one object, indexed per row with ``element_at``."""
    return F.lit(
        [b - (1 << 64) if (b := 1 << i) >= (1 << 63) else b for i in range(64)]
    )


# Largest Bloom size: the collected bitmap ships as an m/64-word plan
# literal (q_bloom_join_pushdown), 128 KiB at this ceiling
BLOOM_M_MAX = 1 << 20


@dataclass(frozen=True)
class BloomShape:
    """One Bloom filter's shape: ``m`` bits, ``n_hashes`` positions per key,
    and ``position(j, key, m)`` — the bit (in [0, m)) that hash ``j`` of
    ``key`` sets.  The build and the probe take the same value, so they
    cannot disagree.  An md5-derived position (:func:`_cms_col`) makes
    every verdict oracle-checkable; a JVM-native one (``xxhash64``) is
    cheaper when nothing outside Spark has to agree with it.

    Checked once, when built: the bitmap holds m/64 whole words, so ``m``
    must be a positive multiple of 64 (else positions past the last word
    drop) and at most ``BLOOM_M_MAX``."""

    m: int
    n_hashes: int
    position: Callable[[Column, Column, int], Column]

    def __post_init__(self) -> None:
        if self.m < 64 or self.m % 64 != 0:
            raise ValueError(f"bloom filter size m={self.m} must be a positive multiple of 64")
        if self.m > BLOOM_M_MAX:
            raise ValueError(f"bloom filter size m={self.m} exceeds BLOOM_M_MAX={BLOOM_M_MAX}")
        if self.n_hashes < 1:
            raise ValueError(f"bloom filter needs n_hashes >= 1, got {self.n_hashes}")


def bloom_bitmap(build: DataFrame, key_col: str, shape: BloomShape) -> DataFrame:
    """The Bloom filter itself, as ONE row holding ``words``: an array of
    m/64 bigint words with the build keys' positions set.

    One bounded aggregation: keys → k positions → per-word BIT_OR (the
    map-side partial agg collapses every partition to ≤ m/64 rows before
    the exchange, and BIT_OR is idempotent so duplicate build keys need no
    pre-``distinct`` — skipping it removes a whole key-sized shuffle), then
    the ≤ m/64 (word, bits) rows fold into a dense array in a single final
    row.  The row is m/64·8 bytes regardless of corpus size — broadcast it,
    or collect it and probe against an array literal.
    """
    pow2 = _pow2_literal()
    pos = shape.position(F.col("j"), F.col("key"), shape.m)
    word_rows = (
        build.select(F.col(key_col).alias("key"))
        .select(
            "key", F.explode(F.sequence(F.lit(0), F.lit(shape.n_hashes - 1))).alias("j")
        )
        .select(
            (pos / 64).cast("int").alias("w"),
            F.element_at(pow2, F.pmod(pos, F.lit(64)).cast("int") + 1).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    return word_rows.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(shape.m // 64 - 1)),
            lambda i: F.coalesce(F.element_at(F.col("wm"), i), F.lit(0)),
        ).alias("words")
    )


def bloom_bits_predicate(key, words: Column, shape: BloomShape) -> Column:
    """Membership test of ``key`` against a :func:`bloom_bitmap` word array
    built with the same ``shape``: true iff all ``n_hashes`` positions are
    set.  ``words`` is the bitmap column (the 1-row frame attached by a
    broadcast cross join) or the collected words as an array literal
    (``F.lit(list)``: one object, not a per-row CreateArray of m/64
    children).  Pure column expression — ``element_at`` + bitwise AND per
    hash inside whole-stage codegen, no explode, no join, no
    re-aggregation; as a filter it sits in the scan stage below any
    downstream exchange."""
    key_col = F.col(key) if isinstance(key, str) else key
    pow2 = _pow2_literal()
    pred = None
    for j in range(shape.n_hashes):
        pos = shape.position(F.lit(j), key_col, shape.m)
        word = F.element_at(words, (pos / 64).cast("int") + 1)
        bit = F.element_at(pow2, F.pmod(pos, F.lit(64)).cast("int") + 1)
        term = word.bitwiseAND(bit) != 0
        pred = term if pred is None else pred & term
    return pred


def cms_estimates(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Per-key (exact_cnt, est_cnt): est = min over rows of the key's cell.
    The CMS guarantee est >= exact always holds (collisions only inflate);
    tested as a property and via the exact oracle."""
    cells = count_min_cells(df, key_col, depth, width)
    keyc = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    probes = keyc.select(
        "key",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
    ).select("key", "exact_cnt", "j", _cms_col(F.col("j"), F.col("key"), width).alias("col"))
    return (
        probes.join(F.broadcast(cells), ["j", "col"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cell").alias("est_cnt"))
    )


# -- KMV (k-minimum-values) distinct sketch ----------------------------------
#
# Unlike HLL (q_approx_distinct_users, whose estimate is engine-specific and
# only bound-assertable), the KMV estimate is a pure function of md5 hashes:
# bit-identical in any engine, so the ESTIMATE ITSELF is value-oracle-able.
# Estimator (Bar-Yossef et al. 2002): with h uniform on [0, 2^60) and h_(k)
# the k-th smallest hash of the distinct keys, n_hat = (k-1) * 2^60 / h_(k).
# With k = 8, (k-1) * 2^60 < 2^63, so the whole estimate stays in exact
# int64 arithmetic (DIV) — no float anywhere in the result.

KMV_K = 8
KMV_SAFETY = 8  # tau-prune keeps ~SAFETY*k hashes per group


def kmv_hash(key: Column, salt: str = "kmv") -> Column:
    """The sketch's salted 60-bit hash of one key; map-only, so the
    streaming KMV gate hashes its rows with the same expression."""
    return hash60(F.concat_ws(":", F.lit(salt), key.cast("string")))


def kmv_k_mins(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = KMV_K,
    salt: str = "kmv",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The k smallest 60-bit hashes of the DISTINCT keys per group:
    (group..., exact_distinct, rn, h [, carry_cols...]), rn <= min(k, n).

    Scale shape: one distinct shuffle of (group, key, carry); the exact
    count is a map-side-combinable agg reused as the estimate's comparison
    arm; the per-group sort behind row_number runs only on the tau-pruned
    frame (expected SAFETY*k rows per group, never n): tau =
    SAFETY*k*2^60/n keeps every hash that can be among the k minima
    whenever >= k hashes survive.  If fewer than k ever survived, the k-th
    min would be NULL and the consumer (and the DuckDB oracle, which does
    no pruning) fails loud rather than silently estimating off a truncated
    sketch.  The tau comparison is EXACT integer arithmetic (r11, closing
    the r10 verdict observation): ``h < SAFETY*k*2^60 / n`` is evaluated
    as ``h * n < SAFETY*k*2^60`` in decimal(38,0) — h*n <= 2^60 * 1e16
    fits with room — so not even the engine-internal prune carries a
    float.  Ties on h are broken by the key so flag-carrying consumers
    (kmv set ops) stay deterministic even under 60-bit hash collisions.
    """
    carry = carry_cols or []
    d = df.select(
        *group_cols, F.col(key_col).alias("_kmv_key"), *carry
    ).distinct()
    hashed = d.select(
        *group_cols,
        "_kmv_key",
        *carry,
        kmv_hash(F.col("_kmv_key"), salt).alias("h"),
    )
    cnt = hashed.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    # the numerator exceeds int64, so it rides in as a decimal literal
    tau_num = F.expr(f"CAST('{KMV_SAFETY * k * TWO_60_INT}' AS DECIMAL(38,0))")
    pruned = hashed.join(cnt, group_cols).filter(
        (F.col("exact_distinct") <= F.lit(KMV_SAFETY * k))
        | (F.col("h").cast("decimal(38,0)") * F.col("exact_distinct") < tau_num)
    )
    win = W.partitionBy(*group_cols).orderBy("h", "_kmv_key")
    return (
        pruned.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("_kmv_key")
    )


def kmv_estimate_col(k: int = KMV_K) -> Column:
    """Integer-exact KMV estimate from (exact_distinct, h_k): exact when the
    sketch holds every hash (n < k), else (k-1)*2^60 DIV h_(k)."""
    return F.when(F.col("exact_distinct") < k, F.col("exact_distinct")).otherwise(
        F.expr(f"CAST({(k - 1) * TWO_60_INT} AS BIGINT) DIV h_k")
    )
