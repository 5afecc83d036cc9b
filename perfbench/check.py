"""Result fingerprints: one order-insensitive digest per query.

The canonical form follows the repository's oracle comparison: columns
sorted by name, each cell normalised (null and NaN alike, floats by exact
value, timestamps in UTC, arrays and maps element-wise), rows sorted.
Numeric cells are compared by value, not by engine dtype, so an int64 on
one side and an integral double on the other agree, as they do in the
oracle check's value comparison.

Fingerprints come from the DuckDB oracle SQL of each query over the same
generated tables the timed run reads.  ``fingerprints.json`` keeps them
for the seeds 0-31 (``run.py --regen-fingerprints`` rewrites it); another
seed, or a changed oracle or generator, computes them before the run
starts.  The timed path only canonicalises the collected rows and
compares digests.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
STORE = os.path.join(HERE, "fingerprints.json")


def canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating, int, np.integer, Decimal)):
        f = float(v)
        if math.isnan(f):
            return ("null",)
        if not math.isinf(f) and f == int(f) and abs(f) < 2**53:
            return ("n", int(f))
        return ("n", f)
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("t", ts.isoformat())
    if isinstance(v, _dt.date):
        return ("t", v.isoformat() + "T00:00:00")
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), canon_cell(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):  # a Spark struct Row
        return canon_cell(v.asDict())
    if isinstance(v, (np.ndarray, list, tuple)):
        return ("a", tuple(canon_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    return ("s", str(v))


def fingerprint(columns: list[str], rows) -> dict:
    """Digest of ``rows`` (sequences aligned with ``columns``), independent
    of row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(canon_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(canon), "sha256": h.hexdigest()}


def oracles(names) -> dict[str, str]:
    from scalable_data_integration_with_llms_spark.queries import ORACLES

    return {n: ORACLES[n] for n in names}


def store_key(names) -> str:
    """Changes whenever the generator, this file or an oracle changes."""
    h = hashlib.sha256()
    for name in ("datagen.py", "check.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    h.update(json.dumps(oracles(names), sort_keys=True).encode())
    return h.hexdigest()[:16]


def oracle_fingerprints(data_dir: str, sql: dict[str, str]) -> dict[str, dict]:
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, q in sql.items():
            df = con.execute(q).df()
            out[name] = fingerprint(list(df.columns), df.itertuples(index=False))
        return out
    finally:
        con.close()


def store(seeds: dict[str, dict], names) -> None:
    """Write ``STORE`` from freshly computed fingerprints."""
    with open(STORE, "w") as f:
        json.dump({"key": store_key(names), "queries": sorted(names), "seeds": seeds},
                  f, indent=0, sort_keys=True)
        f.write("\n")


def expected(seed: int, data_dir: str, names) -> dict[str, dict]:
    """Fingerprints of ``names`` on the tables of ``seed`` (written to
    ``data_dir``): from ``STORE`` while its key holds, else from the
    oracles, run in a child process (``python3 check.py DATA_DIR``, oracle
    SQL on stdin, fingerprints on stdout) so that the benchmark's own
    memory does not depend on whether the seed was stored.  The call
    returns only after the child has ended."""
    sql = oracles(names)  # fails here, before any child, without the package
    if os.path.exists(STORE):
        with open(STORE) as f:
            kept = json.load(f)
        if (set(names) <= set(kept["queries"]) and str(seed) in kept["seeds"]
                and kept["key"] == store_key(kept["queries"])):
            return {n: kept["seeds"][str(seed)][n] for n in names}
    import subprocess
    import sys

    p = subprocess.run([sys.executable, os.path.abspath(__file__), data_dir],
                       input=json.dumps(sql), capture_output=True, text=True)
    if p.returncode:
        raise RuntimeError(f"oracle fingerprints failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, HERE)
    json.dump(oracle_fingerprints(sys.argv[1], json.load(sys.stdin)), sys.stdout)
