#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every engine subsystem: relational core (q1/q3/q5),
windows/rollups (events), the matching pipeline incl. the mapInPandas LLM
boundary and applyInPandas stable matching, dedup (shingle join, MinHash,
SimHash), similarity search, text analysis, sessionization, and the
streaming drain.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_revenue",
    "q17_small_quantity_revenue",
    "q13_order_distribution",
    "q18_large_orders",
    "q21_sole_failing_supplier",
    "q_asof_latest_order",
    "q_asof_next_order",
    "q_salted_join_revenue",
    "q_events_hourly",
    "q_majority_vote",
    "q_mock_match_scores",
    "q_bidirectional_scores",
    "q_stable_matching",
    "q_pipeline_e2e",
    "q_alignment_prf1",
    "q_dedup_exact",
    "q_dedup_ngram_jaccard",
    "q_dedup_clusters",
    "q_minhash_signatures",
    "q_simhash",
    "q_text_quality",
    "q_langid",
    "q_cosine_topk",
    "q_ann_ivf",
    "q_ann_lsh",
    "q_bpe_token_stats",
    "q_tfidf_top_terms",
    "q_vocab",
    "q_sessionization",
    "q_sliding_windows",
    "q_stream_hourly",
    "q_stream_enriched",
    "q_stream_stream_join",
    "q_contamination",
    "q_pack_sequences",
    "q_knn_classify",
    "q_fuzzy_er_names",
    "q_scd2_intervals",
    # round-2 additions
    "q_token_stats",
    "q_bloom_contamination",
    "q_kmeans_iteration",
    "q_simhash_near_dup",
    "q_multimodal_features",
    "q_events_gapfill",
    "q_corpus_pipeline_e2e",
    # round-3 additions: the de-weakened plans stay on the bench so
    # regressions are visible round-over-round
    "q_dedup_containment",
    "q_top_bigrams",
    "q_bpe_train",
    "q_lsh_verified_pairs",
    # round-3 retrieval/data-selection operators
    "q_duplicate_spans",
    "q_bm25_topk",
    "q_domain_affinity",
    # round-3 analytics/curation additions
    "q_cohort_retention",
    "q_event_funnel",
    "q_cdc_apply",
    "q_perplexity_buckets",
    "q_semdedup",
    "q_ivfpq_adc",
    "q_kn_bigram_lm",
    "q_session_paths",
    "q_kcenter_coreset",
    "q_corr_qty_price",
    "q_bloom_join_pushdown",
    "q_stream_cdc_apply",
    "q_hard_negatives",
    "q_hot_cold_join_revenue",
    "q_stream_topk_types",
    "q_session_overlap_join",
    "q_user_value_trend",
    "q_er_entities",
    "q_value_outliers",
    "q_event_transitions",
    "q_rfm_segments",
    "q_funnel_by_cohort",
    "q_seasonality_profile",
    "q_ngram_novelty",
    "q_embedding_drift",
    "q_pmi_collocations",
    "q_brand_hhi",
    # round-5 additions: prompt repr-template catalog (fixture-driven but
    # they exercise the preference frame + ordered-agg assembly path)
    "q_repr_scoring_prompts",
    "q_mm_prompts",
    "q_icl_prompt_render",
    "q_mapping_prompt_render",
    # late round-5 additions: real PNG decode through Arrow + banded Hamming
    # join; the cost rollup chained on the ICL render; the stateful
    # streaming near-dup ingest gate
    "q_image_dhash_dedup",
    "q_question_cost_report",
    "q_stream_near_dup_gate",
    "q_concat_chunk_bins",
]

# The BENCH_r02 comparison set is the HEADLINE prefix through the round-2
# additions (everything before the "round-3 additions" block); the later
# blocks are the r3+ additions.  The driver-facing JSON line must fit the
# driver's 2 KB tail capture, so it reports ONE subset per round and the
# full battery goes to a file: even rounds report the r02 set (apples-to-
# apples with BENCH_r02/r04), odd rounds the r3+ additions (which would
# otherwise never get driver-visible timings).  `total_all` rides along on
# every line for round-over-round continuity (VERDICT r4 task 7).
HEADLINE += [
    # round-6 additions: real-dataset end-to-end goldens
    "q_ehr_round1_matches",
    "q_ehr_matching_f1",
    "q_synthea_matching_f1",
    "q_ehr_ensemble_f1",
    "q_real_benchmarks_summary",
    # round-7 additions: full rounds / round-r / bidirectional / k-sweep on
    # the real benchmark (q_mapping_e2e stays off the battery: its 3 s
    # deliberate overlap-timeout case is a fixed floor, not operator cost)
    "q_ehr_rounds",
    "q_ehr_round2_matches",
    "q_ehr_bidirectional_f1",
    "q_ehr_topk_sweep",
    "q_ehr_effort_report",
    # round-8 additions: the parallel mapping run matrix and the two new
    # component-closing oracle queries (sink roundtrip, dataset loaders)
    "q_mapping_pass_rate",
    "q_sink_roundtrip",
    "q_dataset_loaders",
    # round-10 additions: the KMV sketch family (hash-exact approximate
    # distinct) — the batch set-ops row and the stateful streaming gate —
    # and reciprocal-rank fusion over the BM25 + term-frequency arms
    "q_kmv_set_ops",
    "q_stream_kmv_distinct",
    "q_rrf_fusion",
    # round-11 addition: sorted-neighborhood blocking (two-level prefix-sum
    # global rank + width-w rank-cell equi-join)
    "q_er_sorted_neighborhood",
    # round-12 additions: SemDeDup with the k ∝ N contract realized (bounded
    # md5 sub-buckets; the sf1 row is the linearity proof next to
    # q_semdedup's fixed-k quadratic), and the lossless prefix-filtered
    # AllPairs/PPJoin similarity join
    "q_semdedup_scaled",
    "q_ppjoin_near_dup",
    # round-14 addition: the exactly-once transactional sink (4 committed
    # micro-batches + a replayed batch + a torn-write probe, then the
    # single-agg upsert view) and its compaction twin (4 partitions
    # rewritten as one superseding generation, torn-compaction probe)
    "q_exactly_once_sink",
    "q_sink_compaction",
    # round-15 addition (VERDICT r14 item 5): the MinHash quality harness —
    # the heaviest off-battery row (12-permutation md5 min-agg + verified
    # jaccard pairs); on the battery so its cost stays visible
    "q_minhash_est_jaccard",
]
_R02_HEADLINE_N = HEADLINE.index("q_corpus_pipeline_e2e") + 1
assert _R02_HEADLINE_N == 51, _R02_HEADLINE_N

# sf1 battery (VERDICT r10 task #6): a ~40-row cross-subsystem subset that
# gets per-query gates at the scale where the overflow class of bug lives
# (10x the driver's sf0.1).  Selection: the heaviest/most scale-revealing
# row per subsystem; excludes the O(N^2)-by-construction recall harnesses
# (q_ann_recall et al. are not on HEADLINE anyway) and the fixture-driven
# prompt renders whose cost is scale-independent.  Activated with
# SPARK_GRAFT_BENCH_SET=sf1 (plus SPARK_GRAFT_SF_DIR=.scale_sf1).
SF1_BATTERY = [
    # relational core + joins
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q8_market_share", "q13_order_distribution", "q18_large_orders",
    "q21_sole_failing_supplier", "q_salted_join_revenue",
    "q_hot_cold_join_revenue", "q_bloom_join_pushdown",
    "q_asof_latest_order", "q_scd2_intervals",
    # windows / events / sessions
    "q_events_hourly", "q_sessionization", "q_sliding_windows",
    "q_session_paths", "q_event_transitions", "q_cohort_retention",
    "q_user_value_trend", "q_corr_qty_price", "q_rfm_segments",
    # matching pipeline (mapInPandas boundary + applyInPandas matcher)
    "q_mock_match_scores", "q_bidirectional_scores", "q_stable_matching",
    "q_alignment_prf1", "q_pipeline_e2e",
    # dedup family
    "q_dedup_exact", "q_dedup_clusters", "q_minhash_signatures",
    "q_lsh_verified_pairs", "q_simhash_near_dup", "q_duplicate_spans",
    "q_ppjoin_near_dup",
    # similarity / retrieval
    "q_cosine_topk", "q_ann_ivf", "q_bm25_topk", "q_rrf_fusion",
    "q_semdedup", "q_semdedup_scaled", "q_knn_classify",
    # text analysis
    "q_bpe_token_stats", "q_tfidf_top_terms", "q_langid",
    "q_pmi_collocations", "q_contamination", "q_pack_sequences",
    # sketches + streaming drains
    "q_kmv_set_ops", "q_stream_hourly", "q_stream_cdc_apply",
    "q_stream_kmv_distinct",
    # round-11 addition rides the sf1 battery from birth
    "q_er_sorted_neighborhood",
]
assert not set(SF1_BATTERY) - set(HEADLINE), "sf1 battery must be a HEADLINE subset"
def _infer_round(root: str | None = None) -> int:
    """SPARK_GRAFT_ROUND if set, else one past the newest GIT-COMMITTED
    BENCH_r{N}.json in ``root`` (default: this file's directory) — the
    driver commits that file at each round's end, so the rotation
    self-advances without anyone remembering to bump a constant.
    Committed state only (VERDICT r14 item 3): the driver writes its own
    BENCH_r{N}.json to the working dir BEFORE the low-core scaling re-run,
    so counting on-disk files made the two same-round invocations disagree
    on the round and print disjoint subsets — r14's scaling block came back
    empty.  The files come from ``git ls-tree HEAD`` (a staged but
    uncommitted file is not in it, unlike ``ls-files``, which reads the
    index); a committed tree with no BENCH file is round 1.  Falls back to
    the on-disk listing only when git itself fails (no git, or not a
    repository, e.g. an exported tree)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    here = root or os.path.dirname(os.path.abspath(__file__))
    try:
        proc = subprocess.run(
            ["git", "-C", here, "ls-tree", "-r", "--name-only", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        ok = proc.returncode == 0
    except Exception:
        ok = False
    names = proc.stdout.splitlines() if ok else os.listdir(here)
    rounds = [
        int(m.group(1))
        for f in names
        for m in [re.match(r"BENCH_r(\d+)\.json$", f)]
        if m
    ]
    return (max(rounds) + 1) if rounds else 1


# Fixed cross-subsystem CORE for the driver line (VERDICT r14 item 1): these
# rows ride the one-line JSON EVERY round regardless of the parity rotation,
# so consecutive rounds always share per-query timings (n_common >= 10) and
# the driver's round-over-round and scaling comparisons are never blinded by
# the rotation again.  5 per rotation half — the heaviest / most
# shape-revealing row per subsystem.  `value` still totals the ROTATING
# subset only (unchanged semantics, comparable to the earlier same-metric
# lines); the core rows are extra `queries` entries.
LINE_CORE = [
    # r02-half members
    "q1_pricing_summary",
    "q7_volume_shipping",
    "q_dedup_clusters",
    "q_stream_stream_join",
    "q_bloom_contamination",
    # r3+-half members
    "q_lsh_verified_pairs",
    "q_stream_near_dup_gate",
    "q_ppjoin_near_dup",
    "q_ehr_effort_report",
    "q_session_overlap_join",
]
assert not set(LINE_CORE) - set(HEADLINE), "LINE_CORE must be a HEADLINE subset"


ROUND = _infer_round()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from harness import end_sweep, session, timed, warm_up
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    spark = session("sdi-bench")
    warm_up(spark)

    battery = HEADLINE
    bench_set = os.environ.get("SPARK_GRAFT_BENCH_SET", "")
    if bench_set == "sf1":
        battery = SF1_BATTERY

    # Drift anchors, timed like a query: one warm run (JIT on this exact
    # plan), then the median of 3.  Their round-over-round ratio measures
    # the HOST, so bench_compare can report drift-normalized ratios instead
    # of re-running a quiet-machine battery by hand every time the shared
    # VM slows uniformly (r9 watch-list postmortem).
    def _calibrate(spin, work: str) -> dict:
        runs = sorted(round(t, 4) for t in timed(spin, 4)[1:])
        return {"sec": runs[1], "runs": runs, "work": work}

    # Single-core anchor (VERDICT r10 task #7): a fixed, data- and code-
    # churn-independent JVM spin — 450M modular mults on ONE core through
    # whole-stage codegen, no shuffle, no I/O, no Python.  The 450_000_000
    # constant is LOAD-BEARING: every committed battery's calibration
    # assumes this exact work, so changing it invalidates every cross-round
    # drift ratio — never touch it without re-baselining BENCH_FULL.json.
    calibration = _calibrate(
        lambda: spark.range(0, 450_000_000, 1, 1).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect(),
        "range(450e6,slices=1) sum(id*2654435761%1000003)",
    )

    # Multi-core drift anchor (round 13): the single-slice anchor tracks
    # ONE core's speed, but the battery's queries saturate all of them —
    # r13 observed the two drift independently on this shared VM (single-
    # core 0.65x while multi-core query times ran 1.15x), which made
    # single-anchor normalization AMPLIFY noise instead of removing it.
    # Same per-row work, 32 independent 450M slices (id%450M keeps the
    # multiply inside bigint at any slice count).  The constant is as
    # load-bearing as the single-core one; bench_compare prefers this
    # anchor when both batteries carry it and falls back to the
    # single-core row otherwise.
    calibration_mt = _calibrate(
        lambda: spark.range(0, 450_000_000 * 32, 1, 32).selectExpr(
            "sum(id % 450000000 * 2654435761 % 1000003) AS s"
        ).collect(),
        "range(32x450e6,slices=32) sum(id%450e6*2654435761%1000003)",
    )

    # Two timed runs per query; BOTH columns are reported so round-over-
    # round comparisons stay apples-to-apples:
    #   queries      — best-of-2, same semantics as BENCH_r02 (the min damps
    #                  this shared-host VM's several-fold steal-time swings)
    #   queries_cold — the FIRST run of each query in the sweep.
    # Cache semantics (deliberate, same as r02): persisted intermediates are
    # shared across the sweep — the matching block reuses the mock-scorer
    # output the way a real pipeline reuses a materialized stage, so a
    # "cold" number is first-invocation wall time within the sweep, not
    # cleared-world time.  Query-scoped persists are released after both
    # runs of a query (harness.timed); the session memos and the cache are
    # dropped once at sweep end.
    def sweep() -> tuple[dict[str, float], dict[str, float]]:
        timings: dict[str, float] = {}
        timings_cold: dict[str, float] = {}
        for name in battery:
            fn = QUERIES[name]
            runs = timed(lambda: fn(spark, sf_dir).collect(), 2)
            timings_cold[name] = round(runs[0], 4)
            timings[name] = round(min(runs), 4)
        end_sweep(spark)
        return timings, timings_cold

    # Battery protocol (mechanized in round 7 — VERDICT r6 item 2): run the
    # WHOLE battery N times (SPARK_GRAFT_BENCH_RUNS, default 1 so the
    # driver's per-round invocation is unchanged) and report the MEDIAN-
    # total run, with every run's totals — and per-query times when N>1 —
    # committed alongside so comparisons can measure the host's own spread
    # instead of judging against a hand-picked "best clean run".
    n_batteries = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1")))
    batteries = [sweep() for _ in range(n_batteries)]
    totals = [round(sum(t.values()), 4) for t, _ in batteries]
    median_i = sorted(range(n_batteries), key=lambda i: totals[i])[n_batteries // 2]
    timings, timings_cold = batteries[median_i]

    total = round(sum(timings.values()), 4)

    # Full battery (both timing columns, all queries) goes to a committed
    # file — it does NOT fit the driver's 2 KB stdout-tail capture (r3's
    # 5 KB line came back `parsed: null`, VERDICT r3 item 2).
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_cold": round(sum(timings_cold.values()), 4),
        "queries_cold": timings_cold,
        "sf": sf,
        "n_queries": len(battery),
        "bench_set": bench_set or "headline",
        "calibration": calibration,
        "calibration_mt": calibration_mt,
        "runs": {
            "n": n_batteries,
            "totals": totals,
            "selected": "median_total",
            "selected_index": median_i,
            "spread": round(max(totals) / min(totals), 4),
        },
    }
    if n_batteries > 1:
        full["queries_runs"] = {
            name: [b[0][name] for b in batteries] for name in battery
        }
    # Default output is an UNCOMMITTED path so a driver/judge re-run can't
    # overwrite the committed quiet-machine battery (BENCH_FULL.json is
    # copied from here by the builder at commit time; VERDICT r4 item 4).
    out_name = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL_last_run.json")
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), out_name)
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    # Driver-facing line: r02 shape (metric/value/unit/queries/sf, best-of-2
    # only) restricted to one rotating subset so the line stays well under
    # the driver's 2 KB tail.  The metric name carries the subset identity
    # (ADVICE r4: one metric name for two different query sets was
    # ambiguous); `value` totals the REPORTED subset only, `total_all` the
    # whole battery.
    if ROUND % 2 == 0:
        subset, metric = HEADLINE[:_R02_HEADLINE_N], "headline_r02_subset_wall"
    else:
        subset, metric = HEADLINE[_R02_HEADLINE_N:], "headline_r3plus_subset_wall"
    # `value` totals the rotating subset only (same semantics as every
    # earlier line with this metric name); the LINE_CORE rows are appended
    # as extra per-query entries so consecutive rounds always overlap.
    reported = subset + [n for n in LINE_CORE if n not in subset]
    line_queries = {n: round(timings[n], 2) for n in reported if n in timings}

    def _render() -> str:
        return json.dumps(
            {
                "metric": metric,
                "value": round(sum(timings[n] for n in subset if n in timings), 4),
                "unit": "sec",
                "queries": line_queries,
                "sf": sf,
                "total_all": total,
                "n_all": len(timings),
            },
            separators=(",", ":"),
        )

    # The driver's stdout tail captures ~2 KB; a line that outgrows it (a
    # slow host adds a digit to every timing) would come back `parsed:
    # null` and lose the whole round's numbers.  Degrade gracefully
    # instead: drop rotating per-query entries from the END (newest
    # additions first, never the LINE_CORE continuity rows) until the line
    # fits — `value`/`total_all` are computed from the full subset either
    # way.
    line = _render()
    core = set(LINE_CORE)
    for name in reversed(subset):
        if len(line) < 1900:
            break
        if name in line_queries and name not in core:
            del line_queries[name]
            line = _render()
    assert len(line) < 1900, f"driver line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    main()
