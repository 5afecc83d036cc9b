"""The engine's declared query surface (driver contract in __spark_entry__.py).

Each module registers queries with the shared registry; a query is a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string producing the identical result — same column names, same values.

Registration ORDER matters downstream: the correctness driver hard-verifies a
window of the registry front.  ``_VERIFY_FIRST`` below pins the queries that
most need the hard oracle signal this round to the front of the dict; round 1
verified the TPC-H/analytics block (registry 0-49, all green), so those rotate
to the back and the reference-port core + LLM-pipeline operators come first.
"""

from .registry import QUERIES, ORACLES, query  # noqa: F401

# Register all query modules.
from . import tpch  # noqa: F401, E402
from . import analytics  # noqa: F401, E402
from . import matching  # noqa: F401, E402
from . import metrics_q  # noqa: F401, E402
from . import dedup_q  # noqa: F401, E402
from . import text_q  # noqa: F401, E402
from . import similarity_q  # noqa: F401, E402
from . import streaming_q  # noqa: F401, E402
from . import mapping_q  # noqa: F401, E402
from . import reference_ops  # noqa: F401, E402
from . import er_q  # noqa: F401, E402
from . import approx_q  # noqa: F401, E402
from . import pipeline_q  # noqa: F401, E402
from . import retrieval_q  # noqa: F401, E402
from . import prompt_q  # noqa: F401, E402
from . import ehr_q  # noqa: F401, E402
from . import sinks_q  # noqa: F401, E402
from . import llm_q  # noqa: F401, E402

# Verification-window priority (regenerated by ``tools/rotate_window.py``
# AFTER the changes landed): (a) the 22 queries whose code path changed —
# the four that queried fixed-name temp views now pass their tables to
# spark.sql as DataFrame parameters, the four mapping-engine queries name
# and drop their own views, every stream drain runs under a private query
# name, and the sink queries write under the per-process scratch root;
# (b) the stalest rows — the r10-latest then the r11-latest block.
_VERIFY_FIRST = [
    "q_above_avg_orders",  # changed/new
    "q_notin_null_semantics",  # changed/new
    "q_events_rollup_multires",  # changed/new
    "q_udtf_tokens",  # changed/new
    "q_mapping_overlap",  # changed/new
    "q_mapping_map_pk",  # changed/new
    "q_mapping_e2e",  # changed/new
    "q_mapping_pass_rate",  # changed/new
    "q_stream_hourly",  # changed/new
    "q_stream_enriched",  # changed/new
    "q_stream_dedup",  # changed/new
    "q_stream_stream_join",  # changed/new
    "q_sessionization_stream",  # changed/new
    "q_stream_corpus_ingest",  # changed/new
    "q_stream_cdc_apply",  # changed/new
    "q_stream_topk_types",  # changed/new
    "q_stream_near_dup_gate",  # changed/new
    "q_stream_kmv_distinct",  # changed/new
    "q_exactly_once_sink",  # changed/new
    "q_sink_compaction",  # changed/new
    "q_sink_roundtrip",  # changed/new
    "q_dataset_loaders",  # changed/new
    "q_kmv_distinct",  # r10-latest
    "q_kmv_set_ops",  # r10-latest
    "q_llm_boundary_http",  # r10-latest
    "q_mapping_prompt_render",  # r10-latest
    "q_mapping_sample_data_hint",  # r10-latest
    "q_mm_prompts",  # r10-latest
    "q_ntile_deciles",  # r10-latest
    "q_packing_efficiency",  # r10-latest
    "q_quality_threshold_sweep",  # r10-latest
    "q_repr_n2one_prompts",  # r10-latest
    "q_repr_prompt_tokens",  # r10-latest
    "q_rrf_fusion",  # r10-latest
    "q12_priority_by_status",  # r11-latest
    "q_alignment_prf1",  # r11-latest
    "q_ann_ivf",  # r11-latest
    "q_ann_lsh",  # r11-latest
    "q_bidirectional_scores",  # r11-latest
    "q_bpe_train",  # r11-latest
    "q_chat_prompt",  # r11-latest
    "q_cms_supplier_counts",  # r11-latest
    "q_constraint_audit",  # r11-latest
    "q_corr_qty_price",  # r11-latest
    "q_coverage",  # r11-latest
    "q_dedup_exact",  # r11-latest
    "q_dedup_ngram_jaccard",  # r11-latest
    "q_ehr_gold_parity",  # r11-latest
    "q_ehr_matching_f1",  # r11-latest
    "q_ehr_round1_matches",  # r11-latest
]
_VERIFY_FIRST = [n for n in _VERIFY_FIRST if n in QUERIES or not n.endswith("_tws")]


def _reorder() -> None:
    missing = [n for n in _VERIFY_FIRST if n not in QUERIES]
    assert not missing, f"_VERIFY_FIRST names unknown queries: {missing}"
    rest = [n for n in QUERIES if n not in set(_VERIFY_FIRST)]
    ordered = _VERIFY_FIRST + rest
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})


_reorder()
