"""One vector-search kernel: the side projection, pair scoring, top-k,
recall@k and quantized-dimension stages of the similarity surface are each
written once (operators/similarity.py, operators/clustering.py), and the
operators take one fixed input shape ``(vec_id, embedding[, label])``
instead of column-name parameters.  Source and signature scans, no Spark
session (the contract check reads only a frame's schema)."""

from __future__ import annotations

import inspect
import pathlib
import re

import pytest

import scalable_data_integration_with_llms_spark as pkg
from scalable_data_integration_with_llms_spark.operators import clustering, similarity

ROOT = pathlib.Path(pkg.__file__).parent


def _hits(pattern: str) -> dict[str, int]:
    rx = re.compile(pattern)
    out = {}
    for p in sorted(ROOT.rglob("*.py")):
        n = len(rx.findall(p.read_text()))
        if n:
            out[str(p.relative_to(ROOT))] = n
    return out


def test_recall_aggregate_written_once():
    assert _hits(r"\(F\.count\(F\.lit\(1\)\) \* F\.lit\(") == {"operators/similarity.py": 1}


def test_scored_pair_topk_written_once():
    # the query side's norm column is named once (the pair scorer), and one
    # window orders pairs by (cos_sim DESC, neighbor_id ASC)
    assert _hits(r'"q_norm"') == {"operators/similarity.py": 1}
    assert _hits(r'F\.desc\("cos_sim"\),\s*F\.asc\("neighbor_id"\)') == {
        "operators/similarity.py": 1
    }


def test_quantized_dimensions_written_once():
    assert _hits(r'posexplode\(\s*F\.col\((?:"embedding"|vec_col)\)') == {
        "operators/similarity.py": 1
    }
    assert _hits(r"F\.lit\(1e7\)") == {}
    assert _hits(r"=\s*1e7\b") == {"operators/similarity.py": 1}


@pytest.mark.parametrize("module", [similarity, clustering], ids=lambda m: m.__name__)
def test_no_column_name_parameters(module):
    for name, fn in inspect.getmembers(module, inspect.isfunction):
        if fn.__module__ != module.__name__ or name == "rrf_fuse":
            continue  # rrf_fuse ranks arbitrary ids, not vectors
        params = set(inspect.signature(fn).parameters)
        assert not params & {"id_col", "vec_col", "label_col", "partition_col", "dim"}, name


def test_input_contract_is_checked():
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    class Frame:  # the schema is all the check reads
        def __init__(self, *fields):
            self.schema = StructType(list(fields))

    vec_id = StructField("vec_id", LongType())
    emb = StructField("embedding", ArrayType(DoubleType()))
    similarity.require_vectors(Frame(vec_id, emb))
    with pytest.raises(ValueError, match="label"):
        similarity.require_vectors(Frame(vec_id, emb), "label")
    with pytest.raises(ValueError, match="vec_id"):
        similarity.require_vectors(Frame(StructField("id", LongType()), emb))
    with pytest.raises(ValueError, match="array"):
        similarity.require_vectors(Frame(vec_id, StructField("embedding", DoubleType())))
