"""Scale techniques: salted skew joins (row parity with plain join) and
bucketed co-located joins (no Exchange in the plan)."""

from pyspark.sql import functions as F


def test_salted_join_parity(spark):
    from scalable_data_integration_with_llms_spark.operators.skew import salted_join
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    plain = li.join(sup, li.l_suppkey == sup.s_suppkey).select("l_orderkey", "l_linenumber", "s_name")
    salted = salted_join(
        li.withColumnRenamed("l_suppkey", "k"),
        sup.withColumnRenamed("s_suppkey", "k"),
        on="k",
        salt_factor=4,
        salt_key_cols=["l_orderkey", "l_linenumber"],
    ).select("l_orderkey", "l_linenumber", "s_name")
    assert sorted(map(str, plain.collect())) == sorted(map(str, salted.collect()))


def test_salted_join_never_broadcasts(spark):
    """The replicated side of a salted join must take the shuffle path:
    Catalyst left to its own devices broadcasts it (the plan r13's
    CLUSTER_SF1 axis caught OOMing real-sized executors deserializing the
    ×salt_factor hashed relation), and a broadcast join has no shuffle for
    the salt to de-skew in the first place.  Pin ShuffledHashJoin in, and
    BroadcastHashJoin out of, the physical plan."""
    from scalable_data_integration_with_llms_spark.operators.skew import salted_join
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    salted = salted_join(
        li.withColumnRenamed("l_suppkey", "k"),
        sup.withColumnRenamed("s_suppkey", "k"),
        on="k",
        salt_factor=4,
        salt_key_cols=["l_orderkey", "l_linenumber"],
    ).select("l_orderkey", "s_name")
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned layout + partition pruning: the filter must reach
    PartitionFilters, not scan all partitions (SCALE.md relational-core)."""
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "events_by_day")
    e.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(out)
    df = spark.read.parquet(out).filter(F.col("day") == "2024-01-01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert df.count() > 0


def test_salted_join_query_oracle(spark, duck):
    from conftest import assert_oracle_match

    assert_oracle_match(spark, duck, "q_salted_join_revenue")


def test_observation_counters_single_pass(spark):
    """Production-counter pattern: df.observe() collects pipeline metrics
    (rows gated, tokens kept) during the SAME action that produces the
    result — no second scan.  Metrics must equal a direct aggregation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_tok = F.size(F.split("text", " ", -1))
    obs = Observation("quality_gate")
    gated = d.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(n_tok >= 20, 1).otherwise(0)).alias("rows_kept"),
    ).filter(n_tok >= 20)
    kept = gated.count()  # one action drives both result and counters
    want = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(n_tok >= 20, 1).otherwise(0)).alias("k"),
    ).first()
    assert obs.get["rows_seen"] == want["n"]
    assert obs.get["rows_kept"] == want["k"] == kept


def test_hot_cold_join_parity_and_split(spark):
    from scalable_data_integration_with_llms_spark.operators.skew import hot_cold_join
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    plain = li.join(o, "o_orderkey").select("o_orderkey", "l_linenumber", "o_orderstatus")
    split = hot_cold_join(li, o, "o_orderkey", hot_threshold=4).select(
        "o_orderkey", "l_linenumber", "o_orderstatus"
    )
    assert sorted(map(str, plain.collect())) == sorted(map(str, split.collect()))
    # both paths must carry rows at this threshold (the demo is two-path)
    from pyspark.sql import functions as F

    counts = li.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
    n_hot = counts.filter(F.col("n") > 4).count()
    n_cold = counts.filter(F.col("n") <= 4).count()
    assert n_hot > 0 and n_cold > 0


def test_ann_plane_sweep_monotone(spark):
    """The LSH tradeoff must be monotone in the plane count: more planes ->
    strictly smaller buckets (candidate pairs) and no-higher recall; and
    the 6-plane row must agree with q_ann_recall (same path, same corpus)."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = sorted(
        QUERIES["q_ann_plane_sweep"](spark, sf).collect(), key=lambda r: r.n_planes
    )
    assert [r.n_planes for r in rows] == [2, 4, 6]
    for a, b in zip(rows, rows[1:]):
        assert a.candidate_pairs > b.candidate_pairs
        assert a.total_hits >= b.total_hits
    base = QUERIES["q_ann_recall"](spark, sf).collect()[0]
    six = rows[-1]
    assert (six.n_queries, six.total_hits, six.recall_at_k) == (
        base.n_queries, base.total_hits, base.recall_at_k,
    )


def test_ann_recall_is_panel_stable(spark):
    """Rank-stability of the anchored recall measurement (VERDICT r12 task
    #7): the id-prefix panel (vec_id < 64) and the md5-derived panel (64
    smallest md5('anchor13:'||vec_id)) must report recall within a tight
    band of each other — the recall number is a property of the LSH index,
    not an artifact of which rows carry low ids.  Both panels have 64
    queries x k=5 = 320 hit slots; the band is derived from that slot
    count — 25 slots (~0.078) of disagreement between two equally-valid
    64-anchor panels — rather than pinned to one observed gap (0.016 on
    the 2026-08 sf0.01 fixture), so the INTENT survives a test-data
    regeneration or an n_planes change (ADVICE r13): only a panel-choice
    sensitivity large enough to question the measurement flags."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    prefix = QUERIES["q_ann_recall"](spark, sf).collect()[0]
    hashed = QUERIES["q_ann_recall_hashed"](spark, sf).collect()[0]
    assert prefix.n_queries == hashed.n_queries == 64
    band = 25 / (64 * 5)  # hit-slot budget, not an observed-gap multiple
    assert abs(prefix.recall_at_k - hashed.recall_at_k) <= band, (
        prefix.recall_at_k, hashed.recall_at_k)


def test_ivf_nprobe_sweep_monotone(spark):
    """The IVF tradeoff runs the OTHER direction from the plane sweep: more
    probes -> strictly more candidates and no-lower recall; and probing the
    centroid-nearest single partition must beat (or match) own-label
    probing (q_ivf_recall) — the measurement that justifies IVF search."""
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = sorted(
        QUERIES["q_ivf_nprobe_sweep"](spark, sf).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    for a, b in zip(rows, rows[1:]):
        assert a.candidate_pairs < b.candidate_pairs
        assert a.total_hits <= b.total_hits
    own_label = QUERIES["q_ivf_recall"](spark, sf).collect()[0]
    assert rows[0].total_hits >= own_label.total_hits
