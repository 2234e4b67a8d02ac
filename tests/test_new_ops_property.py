"""Property-based checks for the round-5 operator batch (IPF,
Krippendorff alpha, exact-k sampling)."""

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
    st.tuples(st.integers(0, 6), st.sampled_from("ABC"),
              st.sampled_from(["x", "y"])),
    min_size=6, max_size=30, unique_by=lambda t: (t[0], t[1]),
))
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_krippendorff_item_relabel_invariance(spark, ratings):
    from cccatalog_spark.operators.labeling import (
        krippendorff_alpha_nominal,
    )

    df = spark.createDataFrame(ratings, "item long, rater string, v string")
    a = krippendorff_alpha_nominal(df, "item", "rater", "v").collect()
    df2 = spark.createDataFrame(
        [(i + 1000, r, v) for i, r, v in ratings],
        "item long, rater string, v string",
    )
    b = krippendorff_alpha_nominal(df2, "item", "rater", "v").collect()
    if not a:
        assert not b
    else:
        assert a[0]["alpha"] == b[0]["alpha"]
        assert a[0]["d_o"] == b[0]["d_o"]


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


@given(
    st.lists(st.integers(0, 4), min_size=5, max_size=40),
    st.lists(st.floats(0.5, 20.0), min_size=5, max_size=5),
)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sinkhorn_marginals_property(spark, srcs, masses):
    from pyspark.sql import functions as F

    from cccatalog_spark.operators.ot import sinkhorn_transport

    df = spark.createDataFrame([(s,) for s in srcs], "src int")
    targets = {j: m for j, m in enumerate(masses)}
    out = sinkhorn_transport(
        df, "src", targets, cost_fn=lambda s, t: F.abs(s - t),
        epsilon=1.0, iterations=30,
    ).collect()
    total_b = sum(masses)
    col = {}
    row = {}
    for r in out:
        assert r["mass"] >= 0.0
        col[r["dst"]] = col.get(r["dst"], 0.0) + r["mass"]
        row[r["src"]] = row.get(r["src"], 0.0) + r["mass"]
    for j, m in targets.items():
        assert abs(col[j] - m / total_b) < 1e-4
    import collections

    cnt = collections.Counter(srcs)
    n = len(srcs)
    for s, c in cnt.items():
        assert abs(row[s] - c / n) < 1e-3


@given(st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=1, max_size=12),
    min_size=1, max_size=10,
))
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_blocklist_matches_python_reference(spark, docs):
    from cccatalog_spark.operators.blocklist import phrase_match_report

    phrases = ["aa", "bb cc", "cc dd aa"]
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, txt string")
    got = {
        r["id"]: (r["n_matches"], r["phrases"], r["first_pos"])
        for r in phrase_match_report(df, "id", "txt", phrases).collect()
    }
    # python reference: contiguous token-run matching at every position
    want = {}
    for i, toks in enumerate(docs):
        hits = []
        for pos in range(len(toks)):
            for ph in phrases:
                p = ph.split()
                if toks[pos:pos + len(p)] == p:
                    hits.append((pos + 1, ph))
        if hits:
            want[i] = (
                len(hits),
                "|".join(sorted({ph for _, ph in hits})),
                min(p for p, _ in hits),
            )
    assert got == want
