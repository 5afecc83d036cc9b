"""Physical-plan quality gates: the plans Catalyst must produce for the
engine's scale story — pushed filters, pruned columns, broadcast dims,
partial aggregation.  These are the checks SURVEY §4 and the build mandate
call for ('.explain and iterate until it's the plan you'd want')."""

from scalable_data_integration_with_llms_spark.queries import QUERIES


def _plan(spark, name):
    df = QUERIES[name](spark, "/root/testdata/sf0.01")
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # no Python in the hot path: everything stays JVM-side/codegen-able
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q1_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scan must not read the join keys it doesn't need
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema, "no ReadSchema in plan"
    assert "l_partkey" not in read_schema[0]
    assert "l_suppkey" not in read_schema[0]


def test_q3_broadcasts_customer(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_broadcasts_all_dims(spark):
    plan = _plan(spark, "q5_region_revenue")
    # three dim joins, all broadcast: lineitem itself never shuffles pre-agg
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(spark, "q_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_seeded_sample_stays_pushed(spark):
    # deterministic sampling reads only the key column
    df = QUERIES["q_seeded_sample"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema and "o_totalprice" not in read_schema[0]


def test_q6_all_filters_pushed(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    # exactly the 4 needed columns reach the scan
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_orderkey" not in read_schema and "l_tax" not in read_schema


def test_q18_preaggregates_before_join(spark):
    plan = _plan(spark, "q18_large_orders")
    # the lineitem rollup (partial_sum) must appear below the orders join:
    # never join the full fact, then aggregate
    agg_pos = plan.find("partial_sum")
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("ShuffledHashJoin")
    assert agg_pos != -1
    # executedPlan prints top-down: the join node appears before (above) the
    # partial agg that feeds it
    assert join_pos == -1 or join_pos < agg_pos


def test_q4_semi_join_prunes_lineitem(spark):
    plan = _plan(spark, "q4_priority_exists")
    read_schemas = [line for line in plan.splitlines() if "ReadSchema" in line]
    li = [s for s in read_schemas if "l_orderkey" in s]
    assert li, "lineitem scan missing"
    # semi-join side reads only the key + filter column
    assert "l_extendedprice" not in li[0] and "l_quantity" not in li[0]


def test_asof_single_shuffle(spark):
    plan = _plan(spark, "q_asof_latest_order")
    # union-window as-of: exactly one Exchange for the window (plus AQE reads);
    # no join operator at all
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    n_exchange = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )
    assert n_exchange == 1, f"expected 1 hash exchange, got {n_exchange}"


def test_q8_single_fact_shuffle(spark):
    """q8 joins seven relations: only lineitem⋈orders may shuffle; the five
    dims broadcast, and date+type filters reach the scans."""
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "EqualTo(p_type,PROMO)" in pushed
    assert "GreaterThanOrEqual(o_orderdate" in pushed


def test_q16_anti_join_broadcast(spark):
    plan = _plan(spark, "q16_supplier_part_counts")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_q17_partial_agg_before_join(spark):
    # the per-part aggregate must partial-combine map-side
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "partial_sum" in plan


def test_q20_semi_joins_only(spark):
    plan = _plan(spark, "q20_heavy_shippers")
    assert "LeftSemi" in plan
    # no full join materialization of the fact table
    assert "Inner" not in plan or "BroadcastHashJoin" in plan


def test_contamination_broadcasts_bench(spark):
    plan = _plan(spark, "q_contamination")
    assert "BroadcastHashJoin" in plan


def test_repetition_ratio_no_shuffle(spark):
    """Pure map-side quality signal: no exchange, no Python, no explode."""
    plan = _plan(spark, "q_repetition_ratio")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # array exprs, not explode


def test_centroids_partial_agg(spark):
    plan = _plan(spark, "q_label_centroids")
    assert "partial_sum" in plan  # dim-wise combine before the exchange


def test_word_shingles_no_shingle_shuffle(spark):
    """Per-doc shingle dedup happens map-side (array_distinct before
    explode) — no hash exchange of exploded shingle rows (the cheap
    round-robin spread of pre-explode DOC rows is allowed)."""
    from scalable_data_integration_with_llms_spark.operators.dedup import word_shingles
    from scalable_data_integration_with_llms_spark.sources.readers import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    plan = word_shingles(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_fuzzy_er_compares_on_cached_dim(spark):
    """The quadratic compare must run on the cached distinct-name dimension
    (InMemoryTableScan on both join sides), broadcast-joined on the block
    key, with levenshtein evaluated JVM-side (no Python)."""
    plan = _plan(spark, "q_fuzzy_er_names")
    assert plan.count("InMemoryTableScan") == 2
    assert "BroadcastHashJoin" in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_key_stays_codegen(spark):
    """Morton interleave is pure JVM bit arithmetic: no Python eval, no
    Generate, partial agg before the single bucket exchange."""
    plan = _plan(spark, "q_zorder_locality")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan
    assert "partial_count" in plan or "partial_min" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_single_shuffle(spark):
    """SCD2 interval derivation: exactly one hash exchange (user_id), the
    lead/row_number frames ride the same sort."""
    plan = _plan(spark, "q_scd2_intervals")
    n_exchange = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchange == 1, plan[:600]


def test_bloom_probe_broadcasts_bits(spark):
    """r15 bitmap form: the filter is ONE m/64-word row built with a
    map-side partial bit_or, attached to the corpus by a 1-row broadcast
    nested-loop join; membership is a codegen column predicate — no
    semi-join, no probe-key-sized exchange on bit positions."""
    plan = _plan(spark, "q_bloom_contamination")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bitmap attach
    assert "partial_bit_or" in plan  # bounded map-side word agg
    assert "LeftSemi" not in plan  # old per-position semi-join gone
    assert "BroadcastHashJoin" in plan  # truth join stays broadcast


def test_kmeans_assign_broadcasts_centroids(spark):
    """K centroids broadcast against the corpus scan; the corpus never
    shuffles before the final K-row combine."""
    plan = _plan(spark, "q_kmeans_iteration")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial" in plan  # map-side combine on the stats rollup


def test_quantize_is_map_only(spark):
    """Per-vector quantization is pure element-wise math: no exchange, no
    Python in the plan."""
    plan = _plan(spark, "q_embedding_quantize")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_near_dup_equi_join(spark):
    """Banded candidates come from a hash equi-join on (band, band_sig) —
    never a cartesian product."""
    plan = _plan(spark, "q_simhash_near_dup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_gapfill_spine_broadcasts(spark):
    """The generated calendar spine broadcasts into the left join against
    the reduced hourly rollup."""
    plan = _plan(spark, "q_events_gapfill")
    assert "BroadcastHashJoin" in plan


def test_top_bigrams_take_ordered(spark):
    """Corpus-sized bigram ranking must be TakeOrderedAndProject (per-
    partition heaps), never an unpartitioned window over the full count
    table; the only Window runs post-limit on ≤ 20 rows."""
    plan = _plan(spark, "q_top_bigrams")
    assert "TakeOrderedAndProject" in plan
    w = plan.find("Window")
    t = plan.find("TakeOrderedAndProject")
    # executedPlan prints top-down: the (tiny) Window sits above the limit
    assert w != -1 and w < t, plan[:600]


def test_ngram_jaccard_df_guard_active(spark):
    """The max_df skew guard must be live on the query path, as a broadcast
    ANTI-join against the (tiny) heavy-hitter set — never a shuffle join of
    the shingle frame against the keep set."""
    plan = _plan(spark, "q_dedup_ngram_jaccard")
    assert "> 64" in plan, "max_df guard missing from q_dedup_ngram_jaccard plan"
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin LeftAnti" in plan.replace("\n", " ") or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )


def test_containment_join_is_bounded(spark):
    """q_dedup_containment must never materialize the unfiltered co-shingle
    pair set: the df cap gates the join input (broadcast anti-join), and the
    feasibility bound (inter >= ceil(0.8*min_sz)) prunes in the aggregation
    stage."""
    plan = _plan(spark, "q_dedup_containment")
    assert "> 64" in plan, "max_df guard missing from containment plan"
    assert "LeftAnti" in plan
    assert "CEIL" in plan.upper(), "feasibility bound missing from containment plan"


def test_langid_single_pass(spark):
    """The fused marker scan keeps language ID map-only up to the final
    rollup: exactly one aggregate exchange, no Python."""
    plan = _plan(spark, "q_langid")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # token array is traversed via ONE aggregate expression: the per-language
    # filter scans are gone
    assert plan.count("aggregate(") >= 1


def test_ann_filtered_pushes_label_predicate(spark):
    """Pre-filter ANN: the metadata predicate must reach the corpus scan
    (PushedFilters on label), not evaluate post-join."""
    plan = _plan(spark, "q_ann_filtered")
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "label" in pushed, pushed


def test_bm25_takeordered_and_broadcasts(spark):
    """BM25 retrieval: top-k must be TakeOrderedAndProject (heap, no global
    sort); df and corpus stats broadcast; term filter below the tf groupBy;
    no Python in the plan."""
    plan = _plan(spark, "q_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the IN-list filter must run before the tf aggregate (pre-shuffle)
    assert plan.index("token#") > -1 and "partial_count" in plan


def test_domain_affinity_broadcasts_weights(spark):
    """DSIR selection: the 4096-row bucket-weight table must broadcast into
    the per-doc scoring join, and selection must be TakeOrderedAndProject."""
    plan = _plan(spark, "q_domain_affinity")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan, "weight join must not shuffle the bigram stream"


def test_duplicate_spans_no_global_window(spark):
    """Span merge: the only Window runs partitioned by doc — a global
    (unpartitioned) window would single-partition the corpus."""
    plan = _plan(spark, "q_duplicate_spans")
    for line in plan.splitlines():
        if "Window " in line or line.strip().startswith("Window"):
            assert "doc" in line, f"unpartitioned window: {line}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_chunks_map_only(spark):
    """Chunking must not shuffle: scan -> generate -> project, so it fuses
    with a downstream shard writer."""
    plan = _plan(spark, "q_token_chunks")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_prompt_templates_no_python_and_broadcast(spark):
    """Prompt repr-template assembly (round 5): the render path is pure
    codegen concat over ordered aggregation — no Python evaluation nodes —
    and the per-case dimensions reach the target frame via broadcast, so a
    100 TB case corpus never shuffles per prompt.  (The preference frame's
    one mapInPandas scorer is upstream and session-memoized; it must not
    appear in these plans.)"""
    for name in ("q_repr_n2one_prompts", "q_repr_tada_prompts", "q_icl_prompt_render"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_icl_packing_is_single_fold(spark):
    """The k-shot packing fold must be an aggregate expression over the
    collected demo array (one map stage), not a join/window per example."""
    df = QUERIES["q_icl_prompt_render"](spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" in plan  # the higher-order fold survives into the plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mapping_prompt_render_no_python(spark):
    """The schema-JSON serialization is two ordered collect_list aggs +
    codegen concat; no Python evaluation may appear in the plan."""
    plan = _plan(spark, "q_mapping_prompt_render")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ObjectHashAggregate" in plan  # the ordered collect_list aggs


def test_sample_data_hint_heap_topn(spark):
    """ColumnWise sampling must select top-n via TakeOrderedAndProject
    (per-partition heap), never a single-partition global window over the
    distinct-value dimension."""
    plan = _plan(spark, "q_mapping_sample_data_hint")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "partial_count" in plan  # map-side combine on the value counts


def test_image_dhash_one_banded_shuffle(spark):
    """Perceptual dedup: the PNG decode (the Python stage) runs ONCE behind
    a persisted frame — both sides of the banded self-join read the cache,
    not a second decode — and the Hamming verify (bit_count on the xor) is
    pushed INTO the join as a JVM expression, so candidates never
    materialize unverified."""
    from scalable_data_integration_with_llms_spark.caching import release_scoped

    plan = _plan(spark, "q_image_dhash_dedup")
    try:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "InMemoryTableScan" in plan  # decode cached, not re-run per side
        assert "bit_count" in plan  # verify stays in codegen
        # fixture scale broadcasts the tiny side; at scale AQE picks the
        # shuffled band join — either way the join keys are the bucket
        assert "Join [band" in plan and "band_val" in plan
    finally:
        release_scoped()


def test_question_cost_report_single_agg(spark):
    """The cost rollup is ONE hash aggregation over the ICL frame (the
    exp_count histogram is conditional aggregation, not a pivot), and the
    milli arithmetic stays integer inside codegen."""
    plan = _plan(spark, "q_question_cost_report")
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine
    assert plan.count("Exchange hashpartitioning(config") <= 2
    assert "BatchEvalPython" not in plan


def test_concat_chunk_bins_no_single_partition(spark):
    """The running offsets must come from the two-level prefix sum: the
    corpus-size window partitions by (source, bucket) — bounded groups —
    and nothing in the plan collapses to a single partition (the skew
    failure of a naive per-source cumsum)."""
    plan = _plan(spark, "q_concat_chunk_bins")
    assert "Exchange SinglePartition" not in plan
    assert "bkt" in plan  # the bucketed window partitioning survived
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocked_selector_no_cross_join(spark):
    """q_example_selection_scalable must never degrade to the all-pairs
    shape: no nested-loop or cartesian join anywhere; the level probe is a
    broadcast hash join."""
    plan = _plan(spark, "q_example_selection_scalable")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # top-2 per case is rank-limited before the full window sort
    assert "WindowGroupLimit" in plan


def test_ehr_e2e_single_scorer_pass(spark):
    """The EHR e2e plan must run the mapInPandas scorer once (memoized
    preference frame) and do confusion as one full-outer pair join, not a
    semi/anti cascade."""
    plan = _plan(spark, "q_ehr_matching_f1")
    assert plan.count("FlatMapGroupsInPandas") == 1  # one stable-match pass
    assert "FullOuter" in plan  # confusion is one full-outer pair join


def test_ehr_topk_sweep_single_merge(spark):
    """The AN-k sweep must score and rank the merged frame ONCE: the k
    dimension enters as a broadcast 5-row cross join AFTER the rank
    window, so the plan carries exactly one rank window and one stateful
    Python-free merge, and the per-(k,case) confusion is one full-outer
    pair join."""
    plan = _plan(spark, "q_ehr_topk_sweep")
    # the only Python stage is the (memoized) mock scorer feeding prefs
    assert plan.count("FlatMapGroupsInPandas") == 0  # no stable matching here
    assert "FullOuter" in plan
    # the preference frame is the memoized InMemoryRelation: the scorer's
    # MapInPandas text appears only inside cached-subplan descriptions
    assert "InMemoryTableScan" in plan
    # top-5 rank is group-limited before the full window sort
    assert "WindowGroupLimit" in plan


def test_ehr_rounds_single_python_stage(spark):
    """Full-rounds extraction runs the applyInPandas matcher exactly once."""
    plan = _plan(spark, "q_ehr_rounds")
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_table_overlap_is_one_job_shape(spark):
    """The single-pass overlap plan: one full-outer join + one aggregate,
    never an EXCEPT/INTERSECT set-op cascade."""
    from pyspark.sql import functions as F

    from scalable_data_integration_with_llms_spark.operators.overlap import table_overlap

    g = spark.range(100).select(F.col("id").alias("a"), (F.col("id") % 7).alias("b"))
    p = spark.range(80).select(F.col("id").alias("a"), (F.col("id") % 7).alias("b"))
    # shape probe: build the same frame table_overlap aggregates and check
    # its physical plan (the operator itself collects a single row)
    gg = g.select("a", "b").distinct().withColumn("__in_g", F.lit(1)).alias("g")
    pp = p.select("a", "b").distinct().withColumn("__in_p", F.lit(1)).alias("p")
    cond = F.col("g.a").eqNullSafe(F.col("p.a")) & F.col("g.b").eqNullSafe(F.col("p.b"))
    plan = (
        gg.join(pp, cond, "full_outer")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in plan
    c = table_overlap(g, p, ["a", "b"], "t")
    assert (c.tp, c.fp, c.fn) == (80, 0.0, 20)


def test_sorted_neighborhood_no_theta_join(spark):
    """SNM (r11): the pair stage must be an EQUI-join on the rank cell —
    never a rank-distance theta join (BroadcastNestedLoop/CartesianProduct)
    — and the prefix-sum offsets frame must broadcast back, so no stage
    sorts the whole corpus in one partition."""
    plan = _plan(spark, "q_er_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # offsets join + (at test scale) the cell join both broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan.count("BroadcastHashJoin")


def test_semdedup_scaled_bounded_buckets(spark):
    """q_semdedup_scaled (r12): the k ∝ N contract means the candidate
    stage is an EQUI-join on (cluster, sub) — never an unbounded theta
    join — and the tiny ceil(n_c/TARGET) bucket-count frame broadcasts
    back onto the corpus.  Nested-loop joins appear ONLY as the fixed-k0
    broadcast-centroid assignment (10-row build side, repeated wherever
    the persisted assign subtree prints)."""
    plan = _plan(spark, "q_semdedup_scaled")
    assert "CartesianProduct" not in plan
    # every BNLJ is the 10-row centroid broadcast: all BuildRight Cross
    import re
    bnlj = re.findall(r"BroadcastNestedLoopJoin \w+, \w+", plan)
    assert all("BuildRight, Cross" in j for j in bnlj), bnlj
    # the candidate stage is an equi-join carrying the sub-bucket key
    joins = [l for l in plan.splitlines()
             if ("SortMergeJoin" in l or "BroadcastHashJoin" in l)
             and "cluster" in l and "sub" in l]
    assert joins, "no (cluster, sub) equi-join found in plan"
    # nb broadcast + vec join resolve as hash joins at test scale
    assert "BroadcastHashJoin" in plan


def test_lsh_topk_anchored_is_broadcast_probe(spark):
    """The anchored LSH path (r12 recall harnesses): the 64-row anchor
    frame must BROADCAST against the bucketed corpus — O(anchors × bucket)
    probe, not the symmetric all-pairs-within-bucket join.  Pinned to the
    JOIN LINE CARRYING THE BUCKET KEY, with the anchor frame as its build
    side — a mere any-BroadcastHashJoin-exists check would pass on other
    small broadcasts even after the probe regressed to a shuffle join
    (ADVICE r12).  lsh_topk builds `F.broadcast(q).join(c, "bucket")`, so
    the anchor frame is the LEFT side and the build side must be
    BuildLeft."""
    plan = _plan(spark, "q_ann_recall")
    assert "CartesianProduct" not in plan
    bucket_joins = [
        l for l in plan.splitlines()
        if "Join" in l and "bucket#" in l and "Cross" not in l
    ]
    assert bucket_joins, "no join on the bucket key found in the plan"
    assert all(
        "BroadcastHashJoin" in l and "BuildLeft" in l for l in bucket_joins
    ), bucket_joins


def test_ppjoin_no_cartesian(spark):
    """PPJoin (r12): the candidate stage must be an EQUI-join on the prefix
    element — never an all-pairs product — and the df/rank stages are hash
    aggs + doc-partitioned windows."""
    plan = _plan(spark, "q_ppjoin_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
