"""Property-based checks for the round-5 operator batch (IPF, exact-k
sampling)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy sweep; excluded from the fast loop (-m "not slow")

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

LANGS = ["en", "de", "fr"]
SRCS = ["web", "book"]

CELLS = st.lists(
    st.tuples(
        st.sampled_from(LANGS), st.sampled_from(SRCS),
        st.integers(min_value=1, max_value=30),
    ),
    min_size=4, max_size=10,
)


@given(CELLS)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ipf_marginals_converge(spark, cells):
    import collections

    from cccatalog_spark.operators.sampling import ipf_weights

    rows = [
        (lang, src) for lang, src, n in cells for _ in range(n)
    ]
    present_rows = {lang for lang, _ in rows}
    present_cols = {src for _, src in rows}
    # positive targets over exactly the observed categories
    rt = {k: 10.0 * (i + 1) for i, k in enumerate(sorted(present_rows))}
    ct = {k: 7.0 * (i + 1) for i, k in enumerate(sorted(present_cols))}
    df = spark.createDataFrame(rows, "lang string, src string")
    out = ipf_weights(df, "lang", "src", rt, ct, iterations=15).collect()
    rm = collections.defaultdict(float)
    cm = collections.defaultdict(float)
    for r in out:
        rm[r["row"]] += r["n"] * r["weight"]
        cm[r["col"]] += r["n"] * r["weight"]
    # column marginals are exact (last scaling) up to the operator's
    # round(weight, 6) output quantization: each cell contributes at
    # most n * 5e-7 of error to its marginal
    tol = 5e-7 * len(rows) + 1e-9
    for k, v in ct.items():
        assert abs(cm[k] - v) < tol
    total_target = sum(ct.values())
    assert abs(sum(rm.values()) - total_target) < tol


@given(st.lists(
    st.tuples(st.integers(0, 500), st.sampled_from(LANGS)),
    min_size=1, max_size=60, unique_by=lambda t: t[0],
), st.integers(1, 6))
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_k_subset_and_counts(spark, rows, k):
    import collections

    from cccatalog_spark.operators.sampling import stratified_exact_k

    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_exact_k(df, "source", k, "doc_id").collect()
    seen = {(r["doc_id"], r["source"]) for r in out}
    assert seen <= set(rows)
    per = collections.Counter(r["source"] for r in out)
    sizes = collections.Counter(s for _, s in rows)
    for s, m in sizes.items():
        assert per[s] == min(k, m)
