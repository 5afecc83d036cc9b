"""The plan ledger (plans/LEDGER.json, tools/dump_plans.py) covers the whole
registry and still matches today's plans for one query of each layer."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "plans", "LEDGER.json")) as fh:
    LEDGER = json.load(fh)

# relational, schema mapping, the mapInPandas scorer, near-dup, the
# transactional sink and a stream drain
HANDFUL = [
    "q5_region_revenue",
    "q_mapping_map_pk",
    "q_ehr_matching_f1",
    "q_minhash_signatures",
    "q_exactly_once_sink",
    "q_stream_dedup",
]


def test_ledger_covers_every_query():
    from scalable_data_integration_with_llms_spark.queries import QUERIES

    assert set(LEDGER["queries"]) == set(QUERIES)


def test_watermarked_drains_pin_a_data_batch():
    """A drain's stream-side plan is a data batch: the watermarked append
    drains scan the events parquet, not the empty relation of Spark's
    trailing no-data batch."""
    for name in ("q_stream_dedup", "q_stream_stream_join"):
        scans = LEDGER["queries"][name]["shape"]["stream"]["scans"]
        assert set(scans) == {"parquet events.parquet"}, (name, scans)


def test_check_passes_on_one_query_per_layer():
    # a subprocess, so the ledger's pinned core count applies to its session
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "dump_plans.py"), "check", *HANDFUL],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    assert f"{len(HANDFUL)}/{len(HANDFUL)} plans match the ledger" in proc.stdout
