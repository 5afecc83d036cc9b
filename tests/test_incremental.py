"""Incremental matching: streamed case-catalog rows driven through the batch
matching operators via foreachBatch; results match the batch pipeline."""

import glob


def test_incremental_matching_matches_batch(spark, tmp_path):
    from scalable_data_integration_with_llms_spark.catalog.cases import case_catalog_df
    from scalable_data_integration_with_llms_spark.streaming.incremental import match_batch, run_incremental_matching

    catalog = case_catalog_df(spark)
    # batch truth
    batch_rows = {
        (r.case_id, r.round, r.src, r.tgt) for r in match_batch(catalog, top_k=3).collect()
    }
    assert batch_rows

    # stream the same catalog rows from a parquet directory
    src_dir = str(tmp_path / "cases_in")
    catalog.write.parquet(src_dir)
    stream = spark.readStream.schema(catalog.schema).parquet(src_dir)
    out = str(tmp_path / "matches_out")
    q = run_incremental_matching(
        spark, stream, out, checkpoint=str(tmp_path / "ckpt"), top_k=3
    )
    q.awaitTermination()

    assert glob.glob(out + "/*.parquet")
    streamed = spark.read.parquet(out)
    stream_rows = {
        (r.case_id, r.round, r.src, r.tgt) for r in streamed.collect()
    }
    assert stream_rows == batch_rows
    assert streamed.select("batch_id").distinct().count() >= 1


def test_match_batch_leaves_no_cached_frame(spark):
    from scalable_data_integration_with_llms_spark.caching import clear_all_memos, release_scoped
    from scalable_data_integration_with_llms_spark.catalog.cases import case_catalog_df
    from scalable_data_integration_with_llms_spark.streaming.incremental import match_batch

    spark.catalog.clearCache()
    clear_all_memos()
    release_scoped()
    assert match_batch(case_catalog_df(spark), top_k=3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
