"""Unit tests: connected components invariants + stats rollup parity."""

from __future__ import annotations

import statistics
from unittest import mock

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import cluster
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.cluster import (
    connected_components,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.stats import (
    overall_stats,
    per_doi_stats,
)


def _cc_oracle(edges):
    """Union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # normalize: every node -> min of component
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run_cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, schema="u string, v string")
    return {r["node"]: r["cluster_id"] for r in connected_components(df, **kw).collect()}


@pytest.fixture(params=["one_task", "star"])
def cc_path(request, monkeypatch):
    """Run the test on either CC path; a bound of 0 edges forces the
    large-star/small-star rounds."""
    if request.param == "star":
        monkeypatch.setattr(cluster, "ONE_TASK_MAX_EDGES", 0)
    return request.param


def test_cc_chain(spark, cc_path):
    # a long chain stresses the log-round convergence
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    got = _run_cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == 41


def test_cc_two_components_and_star(spark, cc_path):
    edges = [("b", "a"), ("c", "a"), ("x", "y"), ("z", "y")]
    got = _run_cc(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_cc_star_path_raises_when_not_converged(spark, monkeypatch):
    monkeypatch.setattr(cluster, "ONE_TASK_MAX_EDGES", 0)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _run_cc(spark, edges, max_iter=1)


def test_cc_small_graph_runs_few_jobs(spark):
    """The one-task path: checkpoint, count and the labelling collect —
    not several jobs per star round (63 on this chain before it existed)."""
    sc = spark.sparkContext
    group = "test_cc_small_graph_runs_few_jobs"
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    df = spark.createDataFrame(edges, schema="u string, v string")
    sc.setJobGroup(group, group)
    try:
        got = connected_components(df).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(got) == 41
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_cc_keeps_id_type(spark, cc_path):
    df = spark.createDataFrame([(3, 1), (2, 3), (10, 11), (7, 7)], schema="u bigint, v bigint")
    out = connected_components(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}


# Ids that sort differently by UTF-16 code unit (Java String order) than by
# code point (Spark's UTF-8 byte order): U+FF5E vs the astral U+1F600.
_IDS = ["a", "b", "B", "v00", "v01", "é", "ß", "日本", "\uff5e", "\U0001f600"]


@given(
    st.lists(
        st.tuples(st.sampled_from(_IDS + [None]), st.sampled_from(_IDS + [None])),
        max_size=30,
    )
)
@example([])
@example([("a", None), ("a", "a"), ("a", "a"), ("\uff5e", "\U0001f600")])
@settings(max_examples=10, deadline=None)
def test_cc_matches_union_find(spark, edges):
    """Both paths equal the union-find oracle, over self-loops, duplicate
    rows, null endpoints (ignored), non-ASCII ids and the empty edge set."""
    want = _cc_oracle([(u, v) for u, v in edges if u is not None and v is not None])
    one_task = _run_cc(spark, edges)
    with mock.patch.object(cluster, "ONE_TASK_MAX_EDGES", 0):
        star = _run_cc(spark, edges)
    assert one_task == want
    assert star == want


def test_min_roots_matches_union_find():
    """The one-task path's numpy kernel alone, on 3,000 seeded random
    graphs (sparse to dense, many hook/jump passes) and a long permuted
    path — far more shapes than the Spark examples can afford."""
    rng = np.random.default_rng(7)
    graphs = [
        (n, rng.integers(0, n, (int(rng.integers(0, 2 * n)), 2)))
        for n in rng.integers(1, 40, 3000).tolist()
    ]
    perm = rng.permutation(2000)
    graphs.append((2000, np.stack([perm[:-1], perm[1:]], axis=1)))
    for n, e in graphs:
        root = cluster._min_roots(e[:, 0], e[:, 1], n)
        want = _cc_oracle([tuple(r) for r in e.tolist()] + [(i, i) for i in range(n)])
        assert root.tolist() == [want[i] for i in range(n)], e.tolist()


def _scored_fixture(spark):
    rows = [
        # DOI, ea, na, a_s, ei, ni, i_s
        ("10.1/a", True, True, 100.0, True, True, 100.0),
        ("10.1/a", False, True, 95.5, False, False, 20.0),
        ("10.1/b", False, False, 40.0, False, True, 91.0),
        ("10.1/b", False, False, 0.0, False, False, 0.0),
        ("10.1/b", True, True, 100.0, False, False, 95.5),
    ]
    return spark.createDataFrame(
        rows,
        schema=(
            "DOI string, exact_author_match boolean, normalized_author_match boolean,"
            " author_similarity_score double, exact_institution_match boolean,"
            " normalized_institution_match boolean, institution_similarity_score double"
        ),
    ), rows


def test_overall_stats_parity(spark):
    df, rows = _scored_fixture(spark)
    got = overall_stats(df).collect()[0].asDict()
    a_scores = [r[3] for r in rows]
    i_scores = [r[6] for r in rows]
    assert got["valid_rows"] == 5
    assert got["exact_author_match_count"] == 2
    assert got["normalized_author_match_count"] == 3
    assert got["exact_both_match_count"] == 1
    assert got["norm_author_not_exact_count"] == 1
    assert got["high_author_score_no_norm_match_count"] == 0
    assert got["high_inst_score_no_norm_match_count"] == 1  # 95.5 > 90, ni False
    assert got["perfect_author_score_count"] == 2
    assert got["exact_author_match_pct"] == 40.0
    assert got["author_score_mean"] == statistics.mean(a_scores)
    assert got["author_score_median"] == statistics.median(a_scores)
    assert got["inst_score_stdev"] == statistics.stdev(i_scores)
    assert got["author_score_min"] == 0.0 and got["author_score_max"] == 100.0


def test_per_doi_stats_parity(spark):
    df, _ = _scored_fixture(spark)
    got = {r["DOI"]: r.asDict() for r in per_doi_stats(df).collect()}
    a = got["10.1/a"]
    assert a["TotalAuthorsInput"] == 2
    assert a["CountExactAuthorMatch"] == 1
    assert a["CountNormAuthorMatch"] == 2
    assert a["CountExactBothMatch"] == 1
    assert a["AvgAuthorScore"] == round(statistics.mean([100.0, 95.5]), 2)
    assert a["MedianAuthorScore"] == round(statistics.median([100.0, 95.5]), 2)
    assert a["AllAuthorsNormMatch"] is True
    assert a["AllAuthorsExactMatch"] is False
    assert a["AnyAuthorExactMatch"] is True
    b = got["10.1/b"]
    assert b["TotalAuthorsInput"] == 3
    assert b["AllInstNormMatch"] is False
    assert b["MinAuthorScore"] == 0.0 and b["MaxAuthorScore"] == 100.0


def test_stats_stdev_single_row_is_zero(spark):
    df = spark.createDataFrame(
        [("10.1/x", True, True, 50.0, True, True, 50.0)],
        schema=(
            "DOI string, exact_author_match boolean, normalized_author_match boolean,"
            " author_similarity_score double, exact_institution_match boolean,"
            " normalized_institution_match boolean, institution_similarity_score double"
        ),
    )
    got = overall_stats(df).collect()[0]
    assert got["author_score_stdev"] == 0.0  # n<=1 -> 0.0 (get_stats.py:133-140)
