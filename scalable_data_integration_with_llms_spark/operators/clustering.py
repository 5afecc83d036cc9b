"""K-means (Lloyd) as DataFrame operators — the IVF coarse-quantizer
trainer for the similarity-search surface.

One iteration = two relational stages:

* **update** (``label_centroid_arrays``): per-cluster centroid via the
  integer-quantized dimension sums of ``similarity.quantized_dims`` (one
  (label, i)-keyed shuffle with map-side partial sums — aggregation
  order never affects the result), re-assembled into ordered arrays.
* **assign** (``kmeans_assign``): K centroids broadcast against the corpus;
  squared distance in dot-product form (‖x‖² − 2⟨x,c⟩ + ‖c‖², each a
  sequential fold identical to DuckDB's ``list_dot_product``), argmin by
  window with a deterministic tie-break.  Per-point distances quantize to
  bigints before the inertia sum, so even the objective value is exact.

At 100 TB: the corpus-sized work is the assign scan (K·dim flops per row,
no shuffle until the final K-row combine) and the update's single exploded
shuffle; K and dim live driver-side only as a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import dequantized_mean, dot, quantized_dims, require_vectors

INERTIA_QUANT = 1e6


def label_centroid_arrays(df: DataFrame) -> DataFrame:
    """(c_label, centroid array<double>) per ``label`` — centroid components
    are (sum of quantized dims)/QUANT/count, assembled in dimension order."""
    require_vectors(df, "label")
    per_dim = quantized_dims(df, "label", "c_label").groupBy("c_label", "i").agg(
        F.sum("xq").alias("sum_q"), F.count(F.lit(1)).alias("cnt")
    )
    comp = dequantized_mean(F.col("sum_q"), F.col("cnt")).alias("c")
    return (
        per_dim.select("c_label", "i", comp)
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("c").alias("c")))),
                lambda s: s["c"],
            ).alias("cvec")
        )
    )


def kmeans_assign(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, label, cluster, d2) with d2 the
    squared euclidean distance to the winning centroid.  ``centroids`` is a
    (c_label, cvec) frame (e.g. from :func:`label_centroid_arrays`)."""
    from pyspark.sql import Window as W

    require_vectors(df, "label")
    v = df.select(
        "vec_id", "label", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ve")
    )
    d2 = (
        dot(F.col("ve"), F.col("ve"))
        - 2 * dot(F.col("ve"), F.col("cvec"))
        + dot(F.col("cvec"), F.col("cvec"))
    )
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    win = W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_label"))
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", F.col("c_label").alias("cluster"), "d2")
    )


def kmeans_iteration_stats(df: DataFrame) -> DataFrame:
    """One full Lloyd iteration rolled up per cluster: size, exact quantized
    inertia, and how many points moved off their seeding label."""
    assigned = kmeans_assign(df, label_centroid_arrays(df))
    d2q = F.round(F.col("d2") * F.lit(INERTIA_QUANT), 0).cast("bigint")
    return assigned.groupBy(F.col("cluster")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(d2q).alias("inertia_q"),
        F.sum(F.when(F.col("cluster") != F.col("label"), 1).otherwise(0)).alias("n_moved"),
    )
