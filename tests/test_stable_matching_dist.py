"""Distributed stable matcher: parity with the per-case grouped-map
implementation — on the static case set and on random single-case
instances with distinct scores (where parallel deferred acceptance and the
sequential reference schedule provably coincide)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scalable_data_integration_with_llms_spark.operators.stable_matching import (
    stable_match,
    stable_match_case,
)
from scalable_data_integration_with_llms_spark.operators.stable_matching_dist import (
    stable_match_distributed,
)


def test_static_cases_parity(spark):
    from scalable_data_integration_with_llms_spark.queries.matching import preferences

    prefs = preferences(spark)
    ref = sorted(map(str, stable_match(prefs, top_k=2).collect()))
    dist = sorted(
        map(
            str,
            stable_match_distributed(prefs, top_k=2)
            .select("case_id", "round", "src", "tgt")
            .collect(),
        )
    )
    assert ref == dist and len(ref) > 0


@st.composite
def instances(draw):
    n_a = draw(st.integers(1, 4))
    n_b = draw(st.integers(1, 4))
    aa = [f"a{i}" for i in range(n_a)]
    bb = [f"b{i}" for i in range(n_b)]
    # distinct scores globally -> no tie scheduling ambiguity
    scores = iter(draw(st.permutations(list(range(1, 64)))))
    conf_a = {
        a: [(b, float(next(scores))) for b in draw(st.permutations(bb))[: draw(st.integers(0, n_b))]]
        for a in aa
    }
    conf_b = {
        b: [(a, float(next(scores))) for a in draw(st.permutations(aa))[: draw(st.integers(0, n_a))]]
        for b in bb
    }
    for d in (conf_a, conf_b):
        for k in d:
            d[k] = sorted(d[k], key=lambda t: -t[1])
    return aa, bb, conf_a, conf_b


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(inst=instances())
def test_random_instances_parity(spark, inst):
    aa, bb, conf_a, conf_b = inst
    rounds = stable_match_case(aa, bb, conf_a, conf_b, top_k=3)
    expect = sorted(
        (r + 1, a, b) for r, ms in enumerate(rounds) for a, b in ms
    )
    rows = [
        ("c", "one_to_n", a, b, s, i + 1)
        for a, lst in conf_a.items()
        for i, (b, s) in enumerate(lst)
    ] + [
        ("c", "n_to_one", b, a, s, i + 1)
        for b, lst in conf_b.items()
        for i, (a, s) in enumerate(lst)
    ]
    # every schema attr must appear for schema_a/b derivation: the grouped-map
    # path derives schemas from rows present; mirror that by restricting the
    # expected schemas to attrs with at least one row
    prefs = spark.createDataFrame(
        rows,
        "case_id string, side string, query_attr string, candidate_attr string, score double, rank int",
    )
    got = sorted(
        (r.round, r.src, r.tgt)
        for r in stable_match_distributed(prefs, top_k=3).collect()
    )
    # schema universe differs: stable_match_case saw ALL attrs, the frame only
    # those with preference rows — recompute reference on the reduced universe
    aa2 = sorted({a for a, lst in conf_a.items() if lst})
    bb2 = sorted({b for b, lst in conf_b.items() if lst})
    rounds2 = stable_match_case(
        aa2, bb2,
        {a: conf_a[a] for a in aa2},
        {b: conf_b[b] for b in bb2},
        top_k=3,
    )
    expect2 = sorted((r + 1, a, b) for r, ms in enumerate(rounds2) for a, b in ms)
    assert got == expect2
