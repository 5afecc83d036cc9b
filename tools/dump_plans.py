#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for representative queries
with the scale rationale for each — the '.explain and iterate' audit trail
(SURVEY §4, SCALE.md).  Run from the repo root:

    python tools/dump_plans.py > PLANS.md

Round mode dumps ``.explain("formatted")`` per query as before/after
evidence for an optimization round:

    python tools/dump_plans.py --round 16 before q_pmi_collocations q_er_entities ...
    python tools/dump_plans.py --round 16 after  q_pmi_collocations ...

It writes plans/r<N>/<query>_<tag>.txt, reading tables from
``SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data).  After the plan of
the returned frame, the dump holds ``explain(extended=True)`` of every
streaming query the query function started (its last micro-batch: logical
plans and the stateful physical operators with their partition counts).

Compare mode diffs each before/after pair with run-to-run noise masked
(expression ids, plan ids, lambda variable names, file paths, RDD ids,
streaming UUIDs, object hashes, state-operator batch timestamps), prints the
queries whose plans differ and exits 1 if any do:

    python tools/dump_plans.py --round 16 compare [QUERY...]

With no query names it compares every pair in plans/r<N>/.
"""

from __future__ import annotations

import difflib
import glob
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    (
        "q_bloom_join_pushdown",
        "Runtime-filter pushdown: the Bloom word-array probe (element_at "
        "+ bitwise AND on folded literals) filters the lineitem scan "
        "BELOW the join exchange — only ~30% of fact rows shuffle.",
    ),
    (
        "q_event_funnel",
        "Single-shuffle funnel: one Exchange on user_id feeds the sort, "
        "both window stages, and the per-user aggregate — no per-stage "
        "event-table joins.",
    ),
    (
        "q_semdedup",
        "Cluster-scoped semantic dedup, FAITHFUL FIXED-k TWIN — kept for "
        "paper parity, NOT the scale path: candidate join keyed on the "
        "cluster id (equi-join, not cross join); the assignment frame is "
        "an InMemoryTableScan reused by both sides and the rollup.  At "
        "fixed k the candidate stage is N²/k — any corpus-scale caller "
        "must use q_semdedup_scaled below (the k ∝ N contract, linear; "
        "KSWEEP_SEMDEDUP is the measured divergence).",
    ),
    (
        "q_ivfpq_adc",
        "IVF-PQ read path: every join carrying PQ codes is a "
        "BroadcastHashJoin (LUT, queries, codebook) — the only wide "
        "exchanges move (id, s, code) ints, never vectors.",
    ),
    (
        "q_minhash_signatures",
        "Wide MinHash: all 12 permutation minima computed in ONE "
        "partial→final hash agg (no row-per-permutation explode before "
        "the exchange).",
    ),
    (
        "q_corr_qty_price",
        "One-pass moments in a single partial→final agg (per-row products "
        "stay long arithmetic); only Σxy/Σy² — the sums that can cross "
        "int64 at plausible group sizes (the r10 sf1-sweep find) — pay the "
        "decimal(38,0) accumulator, Σx/Σy/Σx² stay bigint (r11 clawback); "
        "the close-out is per-group scalar math above the combine.",
    ),
    (
        "q_er_sorted_neighborhood",
        "Sorted-neighborhood blocking (round 11): exact global ranks from "
        "a two-level prefix sum bucketed by a prefix of the sort key (the "
        "offsets frame broadcasts back; no single-partition sort), then "
        "candidate pairs from a width-w rank-cell equi-join — per-record "
        "work O(w), no rank-distance theta join anywhere.",
    ),
    (
        "q_kmv_set_ops",
        "KMV theta set-ops (round 10): |A∪B| and |A∩B| from ONE merged "
        "flagged sketch — a single distinct shuffle plus a ~64-row "
        "tau-pruned top-k replaces a COUNT(DISTINCT) over the union AND "
        "an intersection join; the exact arms ride the same scan.",
    ),
    (
        "q_semdedup_scaled",
        "SemDeDup with k ∝ N — THE 100 TB SemDeDup path (round 12, made "
        "the default recommendation in round 13): the ceil(n_c/16) "
        "bucket-count frame broadcasts back onto the corpus and the "
        "candidate stage is an equi-join on (cluster, md5 sub-bucket) — "
        "per-bucket work O(16²) constant, so total candidate work is "
        "linear where q_semdedup's fixed-k stage is N²/k "
        "(KSWEEP_SEMDEDUP is the measured proof: per-vector pair work "
        "flat across 40× data, ~9× faster at sf1).  The only nested-loop "
        "joins are the 10-row centroid-broadcast assignment.",
    ),
    (
        "q_ppjoin_near_dup",
        "Lossless prefix+positional-filtered similarity join (round 12; "
        "positional filter round 13): element df is one hash agg, per-doc "
        "ranks ride a doc-partitioned window, and the candidate stage is "
        "an equi-join on PREFIX elements only — each document's globally "
        "rarest, so inverted-index skew is structurally bounded; the "
        "positional overlap bound 1+min(|a|−p_a,|b|−p_b) ≥ ceil(t·(|a|+|b|)"
        "/(1+t)) then prunes ~2.5× of candidates row-locally inside that "
        "join, before the distinct shuffle and the (dominant) "
        "array_intersect verification.  No CartesianProduct, no max_df "
        "recall loss.",
    ),
    (
        "q6_forecast_revenue",
        "Pure pushdown scan: every filter reaches the parquet reader "
        "(PushedFilters), ReadSchema is exactly the 4 needed columns, one "
        "partial→final agg, no exchange before the final 1-row combine.",
    ),
    (
        "q5_region_revenue",
        "Star join: all four dimensions broadcast — the lineitem fact is "
        "never shuffled before aggregation; zero SortMergeJoin.",
    ),
    (
        "q8_market_share",
        "Seven-relation join with ONE fact-fact shuffle (lineitem⋈orders); "
        "five broadcasts; date+type predicates pushed to the scans.",
    ),
    (
        "q18_large_orders",
        "Pre-aggregate-before-join: the lineitem rollup (partial_sum) sits "
        "below the orders join, so the join probes |orders| not |lineitem|.",
    ),
    (
        "q_asof_latest_order",
        "Union-window as-of join: no join operator at all — one hash "
        "exchange on the key, then a running last() window frame.",
    ),
    (
        "q_repetition_ratio",
        "Map-only quality signal: no Exchange, no Generate (array exprs "
        "instead of explode), no Python — runs at scan speed.",
    ),
    (
        "q_contamination",
        "Shingle join with the benchmark side broadcast: the corpus side "
        "never shuffles before the per-doc count.",
    ),
    (
        "q_label_centroids",
        "posexplode expand feeding a two-stage hash agg keyed on "
        "(label, dim): partial combine does the dim-wise sums map-side.",
    ),
    (
        "q_fuzzy_er_names",
        "Blocked fuzzy ER: the 20k-row table aggregates to the distinct-"
        "name dimension BEFORE the quadratic compare, the self-join keys "
        "on the block, and levenshtein stays JVM-side codegen.",
    ),
    (
        "q_zorder_locality",
        "Z-order clustering key: pure bit arithmetic inside whole-stage "
        "codegen (no UDF, no shuffle before the bucket rollup).",
    ),
    (
        "q_bloom_contamination",
        "Bloom membership as joins: the m-bounded set-bit table broadcasts "
        "into a LeftSemi probe; the corpus side is the only full-size pass.",
    ),
    (
        "q_kmeans_iteration",
        "Lloyd iteration: K centroids broadcast against the corpus scan "
        "(BroadcastNestedLoopJoin over K rows, no corpus shuffle before "
        "the K-row stats combine); update is one exploded partial-agg "
        "shuffle.",
    ),
    (
        "q_simhash_near_dup",
        "Banded SimHash: candidates from a hash equi-join on "
        "(band, band_sig) — the all-pairs space never materializes; "
        "verify is xor+popcount in codegen.  The doc-level signature frame "
        "is persisted (InMemoryTableScan on both join sides) so the "
        "fingerprint pipeline runs once, not per side.",
    ),
    (
        "q_dedup_ngram_jaccard",
        "Shingle self-join with the max_df skew guard as a broadcast "
        "ANTI-join against the (tiny) heavy-hitter set: the shingle frame "
        "is never shuffled to apply the guard; only the intersection "
        "aggregation shuffles.",
    ),
    (
        "q_dedup_containment",
        "Containment near-dups bounded end-to-end: heavy-hitter anti-join "
        "before the self-join, feasibility bound inter >= ceil(t*min_sz) "
        "in the same stage as the intersection aggregate — the unfiltered "
        "pair set never reaches an exchange.",
    ),
    (
        "q_ann_lsh",
        "Hyperplane LSH buckets computed MAP-ONLY: per-plane projections "
        "are aggregate(zip_with) folds against literal sign arrays — no "
        "posexplode, no sign-table join, no shuffle until the bucket "
        "equi-join; exact cosine verify touches candidates only.",
    ),
    (
        "q_top_bigrams",
        "Corpus n-gram ranking as TakeOrderedAndProject (per-partition "
        "top-k heaps, driver merge) — never an unpartitioned window over "
        "the full count table; the rank window runs on 20 rows post-limit.",
    ),
    (
        "q_paragraph_dedup",
        "Chunk-level dedup: non-overlapping chunk hashes (corpus size x1, "
        "unlike shingles' xN) — one shuffle on the chunk hash serves both "
        "owner assignment and the per-doc attrition rollup; text never "
        "shuffles.",
    ),
    (
        "q_pq_codes",
        "Product quantization: k*m codebook rows broadcast into the "
        "m-rows-per-vector subspace expand; argmin + code assembly is one "
        "(id)-keyed window + aggregation — the IVF-PQ compression pattern.",
    ),
    (
        "q_corpus_pipeline_e2e",
        "Five pipeline stages (quality gate, langid, dedup keeper, BPE "
        "budget, shard rollup) fused into one plan: scans fuse map-side; "
        "the only wide exchanges are the dedup window and final rollup.",
    ),
    (
        "q_duplicate_spans",
        "Substring-level dedup: window-hash stream, distinct(hash, doc) "
        "partial-aggregated, df≥2 set broadcast into a LeftSemi probe; the "
        "only Window is doc-partitioned (gaps-and-islands span merge).",
    ),
    (
        "q_bm25_topk",
        "Retrieval: term filter below the tf aggregate, df + corpus stats "
        "broadcast, TakeOrderedAndProject for the k-heap — no global sort, "
        "integer BM25 keeps ranking engine-stable.",
    ),
    (
        "q_domain_affinity",
        "DSIR selection: the ≤4096-row bucket-weight table broadcasts into "
        "the bigram stream; only the per-doc sum shuffles (doc_id keys); "
        "TakeOrderedAndProject selection.",
    ),
    (
        "q_token_chunks",
        "Context-window chunking: scan → generate → project, ZERO "
        "exchanges — fuses with the deterministic shard writer in a single "
        "stage pass over the corpus.",
    ),
    (
        "q_mapping_sample_data_hint",
        "ColumnWise SAMPLE_DATA hint (round 5): per-attribute value counts "
        "with map-side partial aggregation, weighted top-n via "
        "TakeOrderedAndProject (per-partition heap + driver merge of n "
        "rows) — the distinct-value dimension never single-partitions.",
    ),
    (
        "q_repr_n2one_prompts",
        "Prompt repr-template assembly (round 5): the per-case schema JSON "
        "is ONE ordered collect_list hash agg, broadcast into the "
        "target-attribute frame; the full template render is a single "
        "codegen'd concat — no Python, no per-prompt shuffle, scales as one "
        "agg + broadcast join at any case-corpus size.",
    ),
    (
        "q_image_dhash_dedup",
        "Perceptual image dedup (round 5): PNG decode+dHash is ONE "
        "MapInPandas stage behind an InMemoryRelation read by BOTH sides "
        "of the banded self-join; the Hamming verify (bit_count on the "
        "xor) is pushed INTO the join condition, so candidates are "
        "verified as produced, never materialized unverified.",
    ),
    (
        "q_ehr_matching_f1",
        "Real-dataset e2e (round 6): the 52-case EHR benchmark in one "
        "plan — JSON scan once (InMemory-reused by gold and catalog "
        "branches), the mapInPandas scorer on a coalesced single Arrow "
        "batch, stable matching as one applyInPandas keyed by case, "
        "confusion as ONE full-outer pair join (no semi/anti cascade).",
    ),
    (
        "q_example_selection_scalable",
        "Blocked 1-D NN (round 6): the example selector without the "
        "all-pairs join — dense coverage-level table (dimension-sized "
        "window), bounded 3-id candidate arrays, broadcast level probe; "
        "no BroadcastNestedLoopJoin anywhere in the plan.",
    ),
    (
        "q_ehr_ensemble_f1",
        "Seed-ensemble on the real dataset (round 6): the 4-seed dropout "
        "is a broadcast of the 4-row seed dimension (no preference-frame "
        "re-score per seed — the memoized frame is an InMemoryRelation), "
        "majority vote is one partial-agg'd groupBy + window max, and the "
        "confusion stays one full-outer pair join.",
    ),
    (
        "q_ehr_topk_sweep",
        "Real-data AN-k sweep (round 7): the bidirectional merge and rank "
        "window run ONCE; the k=1..5 dimension is a broadcast 5-row cross "
        "join filtered on rank<=k, and the per-(k,case) confusion is one "
        "full-outer pair join — five evaluations for one merge's price.",
    ),
    # q_mapping_e2e is deliberately NOT showcased: its counts collect
    # driver-side (the engine evaluates per rule), so the query's own
    # executedPlan is just a LocalTableScan — the overlap shape that
    # matters (ONE null-safe full-outer join + aggregate per table) is
    # pinned instead by tests/test_plans.py::test_table_overlap_is_one_job_shape,
    # and regenerating this file shouldn't pay the benchmark's deliberate
    # 3 s timeout case.
    (
        "q_concat_chunk_bins",
        "Concat-then-chunk packing (round 5): running token offsets from a "
        "two-level parallel prefix sum — the corpus-size window partitions "
        "by (source, bucket), the per-source cumsum runs on the tiny "
        "subtotal frame that then broadcasts back; SinglePartition appears "
        "nowhere (a naive per-source cumsum would sort each source's whole "
        "corpus in one task).",
    ),
]


def _watermark_col(splan: str) -> str:
    """Label the watermark column in an analyzed streaming plan; a plan
    with no EventTimeWatermark node (e.g. after a rollup refactor) gets a
    'no watermark' label instead of an IndexError (ADVICE r9)."""
    if "EventTimeWatermark" not in splan:
        return "NO WATERMARK NODE (plan changed — re-check hourly_rollup)"
    tail = splan.split("EventTimeWatermark", 1)[1][:80]
    return "ts (LTZ)" if "ts#" in tail else "ts_wall"


def _round_dir(rnd: int) -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{rnd}"
    )


def dump_plan(run) -> str:
    """The formatted plan of the frame ``run()`` returns, followed by
    ``explain(extended=True)`` of each streaming query started while it
    ran, in start order."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        started.append(query)
        return query

    DataStreamWriter.start = recording_start
    try:
        df = run()
    finally:
        DataStreamWriter.start = start
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        for query in started:
            print(f"== streaming query {query.name} ==")
            query.explain(extended=True)
    return buf.getvalue()


def dump_round(rnd: int, tag: str, names: list[str]) -> None:
    """Write each query's plans (:func:`dump_plan`) to
    plans/r<rnd>/<query>_<tag>.txt."""
    if tag not in ("before", "after"):
        raise SystemExit(f"tag must be 'before' or 'after', got {tag!r}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from scalable_data_integration_with_llms_spark.caching import (
        clear_all_memos,
        release_scoped,
    )
    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.session import get_spark

    spark = get_spark("sdi-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = _round_dir(rnd)
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        plan = dump_plan(lambda: QUERIES[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n")
            fh.write(plan)
        release_scoped()
        print(f"wrote {path}")
    clear_all_memos()
    spark.stop()


# Run-to-run noise in a dumped plan: expression ids, plan ids, lambda
# variable names, file paths (the sink queries and every stream drain write
# to fresh temp dirs), RDD ids (scans of a localCheckpoint), the UUIDs a
# streaming query draws per start (its id, run id and watermark node ids),
# the identity hashes of sink writer objects and the wall-clock batch
# timestamp of a Python state operator.
_PLAN_NOISE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"(?:file:)?/[^\s,\]]+"), "<path>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b[0-9a-f]{8}-(?:[0-9a-f]{4}-){3}[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"Timeout, \d+"), "Timeout, <batch ms>"),
    # per-run names: scratch.private_name and spark.sql's DataFrame views
    (re.compile(r"_[0-9a-f]{32}(?![0-9a-f])"), "_<private>"),
]


def masked_plan(text: str) -> list[str]:
    """A dumped plan without its header line and with the noise masked."""
    lines = text.splitlines()[1:]
    for rx, sub in _PLAN_NOISE:
        lines = [rx.sub(sub, line) for line in lines]
    return lines


def compare_round(rnd: int, names: list[str]) -> int:
    """Print the queries whose masked before/after plans differ; 1 if any."""
    out_dir = _round_dir(rnd)
    if not names:
        names = sorted(
            os.path.basename(p)[: -len("_before.txt")]
            for p in glob.glob(os.path.join(out_dir, "*_before.txt"))
        )
    differ = []
    for name in names:
        plans = []
        for tag in ("before", "after"):
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            if not os.path.exists(path):
                raise SystemExit(f"missing {path}")
            with open(path) as fh:
                plans.append(masked_plan(fh.read()))
        diff = list(difflib.unified_diff(*plans, "before", "after", lineterm="", n=1))
        if diff:
            differ.append(name)
            print(f"== {name}: plans differ")
            print("\n".join(diff))
    print(f"{len(names) - len(differ)}/{len(names)} plans identical (masked)")
    return 1 if differ else 0


def main() -> None:
    if sys.argv[1:2] == ["--round"]:
        if sys.argv[3] == "compare":
            sys.exit(compare_round(int(sys.argv[2]), sys.argv[4:]))
        dump_round(int(sys.argv[2]), sys.argv[3], sys.argv[4:])
        return
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from scalable_data_integration_with_llms_spark.queries import QUERIES
    from scalable_data_integration_with_llms_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    print("# PLANS — physical-plan audit for representative queries")
    print()
    print("Generated by `python tools/dump_plans.py` (sf0.01, local[8]).")
    print("Each plan is the one the engine *wants* at 100 TB — the claims")
    print("below are enforced by tests/test_plans.py gates.")
    for name, why in SHOWCASE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n## {name}\n")
        print(why)
        print("\n```")
        # keep the plan readable: drop AQE boilerplate reuse markers
        lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
        print("\n".join(lines[:60]))
        if len(lines) > 60:
            print(f"... ({len(lines) - 60} more lines)")
        print("```")

    # the streaming gate's signature stage is a helper frame, not a registry
    # query — audit it as a batch plan so the map-only claim stays checked
    from scalable_data_integration_with_llms_spark.sources.readers import load_table
    from scalable_data_integration_with_llms_spark.streaming.near_dup_gate import (
        stream_minhash_bands,
    )

    d = load_table(spark, sf_dir, "documents")
    plan = stream_minhash_bands(d)._jdf.queryExecution().executedPlan().toString()
    print("\n## q_stream_near_dup_gate (signature stage)\n")
    print(
        "The streaming gate's map-only MinHash banding, planned as a batch\n"
        "frame to audit the shape each micro-batch executes: shingling, all\n"
        "12 salted hashes, per-permutation minima (array_min) and the band\n"
        "md5s live in one WholeStageCodegen span — so the ONLY shuffle in\n"
        "the streaming query is the stateful (band, signature) gate itself,\n"
        f"with one bigint of state per bucket.  Exchange count:\n"
        f"{plan.count('Exchange')} | Python stages: "
        f"{plan.count('EvalPython') + plan.count('MapInPandas')}"
    )
    print("\n```")
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    print("\n".join(lines[:12]))
    print("```")

    # the r9 wall-time (NTZ) window rollup — audit that the session-TZ-
    # independent bucketing added a projection, not an exchange
    from scalable_data_integration_with_llms_spark.streaming.events import (
        hourly_rollup,
        read_event_stream,
    )

    ev = read_event_stream(spark, sf_dir)
    rolled = hourly_rollup(ev, "event_type")
    splan = rolled._jdf.queryExecution().analyzed().toString()
    print("\n## hourly_rollup (wall-time NTZ window, r9)\n")
    print(
        "Streaming hourly rollup after the session-TZ-independence fix:\n"
        "the window runs over ts cast to TIMESTAMP_NTZ (wall-clock\n"
        "alignment — identical buckets under any session timezone) while\n"
        "the watermark stays on the LTZ ts.  The cast is a per-row\n"
        "projection inside the pre-shuffle stage; the plan still has\n"
        "exactly one stateful aggregation exchange keyed (window,\n"
        f"event_type).  Analyzed-plan Exchange-relevant ops: "
        f"{splan.count('Aggregate')} aggregates, watermark on "
        f"{_watermark_col(splan)}."
    )
    print("\n```")
    slines = [l.rstrip() for l in splan.splitlines() if l.strip()]
    print("\n".join(slines[:10]))
    print("```")


if __name__ == "__main__":
    main()
