#!/usr/bin/env python
"""Compute the next round's driver-verification window (VERDICT rotation
discipline): for every registry query, find the NEWEST round in which it was
green, from the driver's CORRECTNESS_r0N.json rows and the default-axis sf0.01
entries of the verification ledger VERIFIED.json
(tools/check_correctness.py), then propose a 50-query `_VERIFY_FIRST`
as (changed/new queries first) + (stalest block oldest-round-first,
alphabetical within a round) until the window is full.

    python tools/rotate_window.py                 # report staleness only
    python tools/rotate_window.py q_a q_b ...     # propose a window with
                                                  # these changed/new first

The driver window is the first `--window` (default 50) entries of
``queries()``; paste the proposal into
``scalable_data_integration_with_llms_spark/queries/__init__.py``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def newest_green_rounds(root: str = ROOT) -> dict[str, int]:
    """query -> newest round with a green driver row or default-axis sf0.01
    ledger entry (0 = never)."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(f))
        if not m:  # skip FULL/SF01/ADVERSARIAL variants — driver rounds only
            continue
        rnd = int(m.group(1))
        for q, v in json.load(open(f)).items():
            ok = (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match") is not False
            )
            if ok:
                latest[q] = max(latest.get(q, 0), rnd)
            else:
                latest.setdefault(q, 0)
    ledger = os.path.join(root, "VERIFIED.json")
    if os.path.exists(ledger):
        for q, entries in json.load(open(ledger)).items():
            for e in entries:
                if not e["axis"] and os.path.basename(e["sf_dir"].rstrip("/")) == "sf0.01":
                    latest[q] = max(latest.get(q, 0), e["round"])
    return latest


def propose_window(latest: dict[str, int], names, changed, size: int) -> list[str]:
    """The changed/new queries, then the stalest (oldest round first,
    alphabetical within a round) until ``size`` queries."""
    pinned = list(dict.fromkeys(changed))
    stale = sorted((q for q in names if q not in set(pinned)), key=lambda q: (latest.get(q, 0), q))
    return (pinned + stale)[:size]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("changed", nargs="*", help="changed/new queries to pin first")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    from scalable_data_integration_with_llms_spark.queries import QUERIES

    latest = newest_green_rounds()
    # registry queries with no driver row yet (brand-new) count as round 0
    for q in QUERIES:
        latest.setdefault(q, 0)
    hist = Counter(latest[q] for q in QUERIES)
    print("newest green round -> query count:",
          dict(sorted(hist.items())))

    unknown = [q for q in args.changed if q not in QUERIES]
    if unknown:
        print(f"ERROR: not in registry: {unknown}")
        return 1

    pinned = list(dict.fromkeys(args.changed))
    window = propose_window(latest, QUERIES, pinned, args.window)
    n_changed = len(pinned)
    n_stale = len(window) - n_changed
    oldest_after = min(
        (latest[q] for q in QUERIES if q not in set(window)), default=None
    )
    print(f"\nproposed window ({args.window}): {n_changed} changed/new + "
          f"{n_stale} stalest; oldest standing after this round: r{oldest_after}")
    print("\n_VERIFY_FIRST = [")
    for q in window:
        tag = "changed/new" if q in set(pinned) else f"r{latest[q]}-latest"
        print(f'    "{q}",  # {tag}')
    print("]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
