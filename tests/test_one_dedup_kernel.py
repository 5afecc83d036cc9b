"""One near-duplicate kernel: the shingle-overlap, MinHash-minima,
span-window and content-key stages of the dedup surface are each written
once (operators/dedup.py), and the operators take one fixed input shape —
a documents frame ``(doc_id, text)`` or the ``(doc, shingle)`` frame of
``word_shingles`` — instead of column-name and shape parameters.  Source
and signature scans, no Spark session (the contract check reads only a
frame's schema)."""

from __future__ import annotations

import inspect
import pathlib
import re

import pytest

import scalable_data_integration_with_llms_spark as pkg
from scalable_data_integration_with_llms_spark.operators import dedup
from scalable_data_integration_with_llms_spark.streaming import near_dup_gate

ROOT = pathlib.Path(pkg.__file__).parent


def _hits(pattern: str) -> dict[str, int]:
    rx = re.compile(pattern)
    out = {}
    for p in sorted(ROOT.rglob("*.py")):
        n = len(rx.findall(p.read_text()))
        if n:
            out[str(p.relative_to(ROOT))] = n
    return out


def test_shingle_overlap_written_once():
    assert _hits(r'\.join\(b, "shingle"\)') == {"operators/dedup.py": 1}


def test_minhash_minima_written_once():
    # one salted permutation hash, shared by the batch minima and the
    # streaming gate's array minima
    assert _hits(r'hash60\(F\.concat_ws\(":", F\.lit\(p\)') == {"operators/dedup.py": 1}
    assert _hits(r"for p in range\(12\)|F\.lit\(12\.0\)") == {}


def test_span_window_hash_written_once():
    # the per-position window hash (the chunking queries hash
    # non-overlapping chunks at their own stride, a different stage)
    assert _hits(r'F\.md5\(\s*F\.concat_ws\(\s*" ",\s*F\.slice\("w", F\.col\("pos"\)') == {
        "operators/dedup.py": 1
    }


def test_content_key_is_the_only_text_md5():
    assert _hits(r'F\.md5\(\s*(?:F\.col\(\s*)?"text"') == {}


# every defaulted (settable) parameter left on the dedup surface: simhash's
# fingerprint width (callers use 16 and 32), the pair-column names of
# connected_components (three callers, three names), and the PPJoin
# threshold and span width the losslessness property tests sweep
_SETTABLE = {
    ("simhash", "bits"),
    ("connected_components", "a_col"),
    ("connected_components", "b_col"),
    ("ppjoin_pairs", "t_num"),
    ("ppjoin_pairs", "t_den"),
    ("duplicate_spans", "w"),
    ("span_windows", "w"),
}


@pytest.mark.parametrize("module", [dedup, near_dup_gate], ids=lambda m: m.__name__)
def test_no_column_name_or_shape_parameters(module):
    settable = set()
    for name, fn in inspect.getmembers(module, inspect.isfunction):
        if fn.__module__ != module.__name__ or name.startswith("_"):
            continue
        params = inspect.signature(fn).parameters
        assert not set(params) & {"id_col", "text_col", "doc_col", "elem_col", "sig_col"}, name
        settable |= {
            (name, p) for p, v in params.items() if v.default is not inspect.Parameter.empty
        }
    assert settable <= _SETTABLE


class _Frame:
    """A stand-in frame: the schema is all the contract check reads."""

    def __init__(self, *names):
        from pyspark.sql.types import StringType, StructField, StructType

        self.schema = StructType([StructField(n, StringType()) for n in names])


def test_input_contract_is_checked():
    docs = _Frame("doc_id", "text")
    assert dedup.require_documents(docs) is docs
    shingles = _Frame("doc", "shingle")
    assert dedup.require_shingles(shingles) is shingles
    with pytest.raises(ValueError, match="text"):
        dedup.require_documents(_Frame("doc_id", "body"))
    with pytest.raises(ValueError, match="doc_id"):
        dedup.require_documents(_Frame("id", "text"))
    with pytest.raises(ValueError, match="shingle"):
        dedup.require_shingles(_Frame("doc", "token"))


@pytest.mark.parametrize(
    "module, op",
    [
        (dedup, "exact_dedup_groups"),
        (dedup, "word_shingles"),
        (dedup, "simhash"),
        (dedup, "duplicate_spans"),
        (near_dup_gate, "stream_minhash_bands"),
    ],
    ids=lambda x: x if isinstance(x, str) else x.__name__.rsplit(".", 1)[-1],
)
def test_document_operators_check_at_entry(module, op):
    with pytest.raises(ValueError, match="documents input"):
        getattr(module, op)(_Frame("id", "body"))


@pytest.mark.parametrize(
    "op",
    ["jaccard_pairs", "containment_pairs", "minhash_minima", "minhash_signatures", "ppjoin_pairs"],
)
def test_shingle_operators_check_at_entry(op):
    with pytest.raises(ValueError, match="shingle input"):
        getattr(dedup, op)(_Frame("doc_id", "text"))
