"""The cross-engine 60-bit hash primitive (functions/determinism.py).

``hash60`` (Spark) and ``hash60_sql`` (DuckDB oracle) must give the same
integer for the same key bytes, always in [0, 2^60); ``det_rand`` with a
seed column must reproduce the per-seed dropout draws of the ensemble
queries; and no module may spell the 60-bit form out on its own.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
from pyspark.sql import functions as F

from scalable_data_integration_with_llms_spark.functions.determinism import (
    TWO_60,
    TWO_60_INT,
    TWO_60_SQL,
    det_rand,
    hash60,
    hash60_sql,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scalable_data_integration_with_llms_spark",
)

KEYS = [
    "",
    "Größe 漢字 ünïcödé",
    "x" * 10_240,
    "seed:case:attr",
    "a",
    "shard42:17",
]


def test_two_60_spellings_agree():
    assert TWO_60_INT == 2**60
    assert TWO_60 == float(2**60)
    assert float(TWO_60_SQL) == TWO_60 and TWO_60_SQL == "1152921504606846976.0"


def test_hash60_matches_duckdb_and_range(spark):
    rows = list(enumerate(KEYS))
    got = {
        r["i"]: r["h"]
        for r in spark.createDataFrame(rows, "i int, k string")
        .select("i", hash60(F.col("k")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE keys (i INTEGER, k VARCHAR)")
        con.executemany("INSERT INTO keys VALUES (?, ?)", rows)
        oracle = dict(con.execute(f"SELECT i, {hash60_sql('k')} FROM keys").fetchall())
    finally:
        con.close()
    # third, engine-free reference: the first 15 hex digits of md5(utf-8)
    ref = {i: int(hashlib.md5(k.encode()).hexdigest()[:15], 16) for i, k in rows}
    assert got == oracle == ref
    assert all(0 <= h < 2**60 for h in got.values())


def test_hash60_sql_renders_the_oracle_form():
    assert hash60_sql("p || ':' || shingle") == (
        "('0x' || substr(md5(p || ':' || shingle), 1, 15))::BIGINT"
    )


def _removed_det_rand_str(seed_col: str, *key_cols: str):
    """The seed-column variant ``det_rand`` replaced, kept verbatim as the
    reference for the ensemble queries' dropout draws."""
    key = F.concat_ws(":", F.col(seed_col), *[F.col(c) for c in key_cols])
    return (
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
        / F.lit(1152921504606846976.0)
    ).cast("double")


def test_det_rand_seed_column_matches_removed_variant(spark):
    keys = [(s, a, b) for s in (0, 1, 7, 42) for a, b in zip(KEYS, reversed(KEYS))]
    df = spark.createDataFrame(keys, "seed int, a string, b string").select(
        "seed",
        "a",
        "b",
        det_rand(F.col("seed"), "a", "b").alias("new"),
        _removed_det_rand_str("seed", "a", "b").alias("old"),
    )
    rows = df.collect()
    assert len(rows) == len(keys)
    for r in rows:
        assert r["new"] == r["old"]
        assert 0.0 <= r["new"] < 1.0
        h = int(hashlib.md5(f"{r['seed']}:{r['a']}:{r['b']}".encode()).hexdigest()[:15], 16)
        assert r["new"] == h / 2**60


# F.substring(F.md5(...), 1, 15) or substr(md5(...), 1, 15), the md5
# argument possibly nested and spread over lines
_OPEN = re.compile(r"(?:F\.substring|substr)\(\s*(?:F\.)?md5\(")
_TAIL = re.compile(r"\s*,\s*1\s*,\s*15\s*\)")


def _inline_hash60_sites(src: str) -> list[int]:
    sites = []
    for m in _OPEN.finditer(src):
        depth, i = 1, m.end()
        while depth and i < len(src):
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        if _TAIL.match(src, i):
            sites.append(src.count("\n", 0, m.start()) + 1)
    return sites


def test_scanner_sees_multiline_forms():
    src = (
        "x = F.conv(\n    F.substring(\n"
        '        F.md5(F.concat(F.lit("a"), F.col("b"))), 1, 15\n    ),\n)'
    )
    assert _inline_hash60_sites(src) == [2]
    assert _inline_hash60_sites("substr(md5(p || ':' || s), 1, 15)") == [1]
    assert _inline_hash60_sites("substr(md5(text), 1, 16) substr(name, 1, 15)") == []


def test_no_inline_hash60_outside_determinism():
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path.endswith(os.path.join("functions", "determinism.py")):
                continue
            with open(path, encoding="utf-8") as fh:
                sites = _inline_hash60_sites(fh.read())
            offenders += [f"{os.path.relpath(path, PKG)}:{n}" for n in sites]
    assert not offenders, f"spell the 60-bit hash via hash60/hash60_sql: {offenders}"
