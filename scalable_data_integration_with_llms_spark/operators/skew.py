"""Skew-mitigation joins (build mandate: "skewed keys hurt … salting for
skew, AQE for runtime re-plan").

``salted_join`` is the classic explicit remedy when AQE's skew-join split
isn't available or the skew is in the *build* of an aggregation rather than
a join: the hot side's key is widened with a deterministic salt in
[0, factor), and the other side is replicated across every salt value, so
one hot key fans out over ``factor`` shuffle partitions instead of one.

Determinism: the salt derives from ``xxhash64`` of the row key — a pure,
fixed-seed row function, so retries and recomputations salt identically.
(Unlike the sampling operators, the salt never crosses the oracle boundary
— the plain join is the oracle — so it doesn't need the md5 cross-engine
discipline, and the JVM-native hash keeps the hot side's scan cheap.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    salt_factor: int = 8,
    salt_key_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``skewed ⋈ small`` on column ``on`` with the skewed side
    salted ``salt_factor`` ways and the small side replicated per salt.

    ``salt_key_cols``: columns identifying a skewed-side row (defaults to
    all of its columns) — the salt must be a pure row function to stay
    stable across recomputation.
    """
    key_cols = salt_key_cols or skewed.columns
    salt = F.pmod(F.xxhash64(F.lit("salt"), *key_cols), F.lit(salt_factor)).cast("int")
    left = skewed.withColumn("__salt", salt)
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))).alias("__salt")
    # The replicated side must take the SHUFFLE path: if it were broadcast,
    # the salt would be pointless (a broadcast join has no shuffle to skew)
    # and the executor would build a hashed relation ``salt_factor`` times
    # the un-replicated size — at sf1 under realistic executor sizing that
    # deserialization is exactly what OOMs (BytesToBytesMap growth in
    # UnsafeHashedRelation.read).  The shuffle_hash hint pins the intended
    # physical strategy: partition both sides by (key, salt), hash-build
    # the replicated side per-partition where each partition holds only
    # 1/(parallelism) of it.
    right = small.select("*", salts).hint("shuffle_hash")
    joined = left.join(right, [on, "__salt"], how)
    return joined.drop("__salt")


def hot_cold_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    hot_threshold: int,
    how: str = "inner",
) -> DataFrame:
    """Skew join via hot-key split — the other classic remedy besides
    salting: keys whose fact-side frequency exceeds ``hot_threshold`` take
    the broadcast path (their dim rows are few — it's the FACT side that's
    heavy — so broadcasting the hot slice of the dim costs ~nothing and the
    hot fact rows never shuffle), while the cold long tail takes the normal
    shuffled join.  Union of the two paths is the exact join.

    vs. salting: salting spreads a hot key over `factor` partitions but
    still shuffles every fact row and replicates the whole dim `factor`
    ways; the hot/cold split shuffles ONLY the cold tail and touches each
    dim row once.  Salting wins when the hot-key set is too large to
    enumerate; the split wins when skew is concentrated (the usual case).

    The hot-key set is discovered from the fact itself (one groupBy —
    map-side combine makes it cheap even on the skewed key) and is
    broadcast to both path filters; at most |fact|/hot_threshold keys, so
    it is bounded by construction.
    """
    counts = fact.groupBy(on).agg(F.count(F.lit(1)).alias("__n"))
    hot_keys = counts.filter(F.col("__n") > hot_threshold).select(on)
    fact_hot = fact.join(F.broadcast(hot_keys), on, "left_semi")
    fact_cold = fact.join(F.broadcast(hot_keys), on, "left_anti")
    dim_hot = dim.join(F.broadcast(hot_keys), on, "left_semi")
    dim_cold = dim.join(F.broadcast(hot_keys), on, "left_anti")
    hot_path = fact_hot.join(F.broadcast(dim_hot), on, how)
    cold_path = fact_cold.join(dim_cold, on, how)
    return hot_path.unionByName(cold_path)
