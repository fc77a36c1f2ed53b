"""Focused tests for the r6 optimization internals: the per-bucket ANN
top-k kernel, the Arrow-batched norm, the one-shuffle LSH cap, and the
CC roll-up and self-loop flag — each asserting equivalence with the (slower)
formulation it replaced, on adversarial inputs the driver data does not
exercise (rounding-boundary ties, sub-k buckets, null embeddings)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.udfs import (
    make_bucket_topk_pairs_kernel,
)


def _spark_round(x, decimals):
    """Spark's round() on a double: identity on NaN/±inf, BigDecimal
    HALF_UP on the shortest repr otherwise."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    x = float(x)
    if np.isnan(x) or np.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-decimals), rounding=ROUND_HALF_UP)) + 0.0


def _desc_key(pair):
    """Spark's (cos_sim DESC, right_id ASC) ordering: NaN first (NaN sorts
    greater than +inf), then by value desc, NULL last."""
    c = pair[2]
    if c is None:
        return (2, 0.0, pair[1])
    if np.isnan(c):
        return (0, 0.0, pair[1])
    return (1, -c, pair[1])


def _jvm_cos(dot, lnrm, rnrm):
    """The boundary + JVM semantics: a NaN dot crossed Arrow as NULL (the
    old seq_dot_udf behaved identically), NULL propagates; otherwise IEEE
    division (0/0 = NaN, x/0 = ±inf)."""
    if dot is None or lnrm is None or rnrm is None:
        return None
    if np.isnan(dot):
        return None
    with np.errstate(divide="ignore", invalid="ignore"):
        return float(np.float64(dot) / (np.float64(lnrm) * np.float64(rnrm)))


def _topk(cand, k):
    out = []
    for left in sorted({c[0] for c in cand}):
        mine = sorted([c for c in cand if c[0] == left], key=_desc_key)
        out.extend(mine[:k])
    # NaN-safe comparable form (NaN != NaN would break list equality)
    def canon(c):
        if c is None:
            return "NULL"
        return "NaN" if np.isnan(c) else c
    return sorted(((l, r, canon(c)) for l, r, c in out),
                  key=lambda p: (p[0], p[1]))


def _reference_topk(pdf: pd.DataFrame, k: int, decimals: int) -> list[tuple]:
    """Brute-force replica of the OLD join+round+window formulation over
    one bucket, in plain Python."""
    rows = pdf.sort_values("vec_id").to_dict("records")
    pairs = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            if a["v"] is None or b["v"] is None:
                dot = None
            else:
                dot = 0.0
                for xa, xb in zip(a["v"], b["v"]):
                    dot += float(xa) * float(xb)
            cos = _jvm_cos(dot, a["nrm"], b["nrm"])
            pairs.append((a["vec_id"], b["vec_id"], _spark_round(cos, decimals)))
    return _topk(pairs, k)


def _kernel_topk(pdf: pd.DataFrame, k: int, decimals: int) -> list[tuple]:
    """New kernel + the same JVM round/window math applied in Python."""
    kern = make_bucket_topk_pairs_kernel(k=k, round_decimals=decimals)
    res = kern(pdf)
    cand = []
    for r in res.itertuples():
        dot = None if np.isnan(r.dot) else r.dot  # Arrow boundary: NaN->NULL
        ln = None if np.isnan(r.lnrm) else r.lnrm
        rn = None if np.isnan(r.rnrm) else r.rnrm
        cand.append((int(r.left_id), int(r.right_id),
                     _spark_round(_jvm_cos(dot, ln, rn), decimals)))
    return _topk(cand, k)


def _bucket(ids, vecs, nrms=None):
    if nrms is None:
        nrms = [
            None if v is None else float(np.sqrt(sum(float(x) * float(x) for x in v)))
            for v in vecs
        ]
    return pd.DataFrame({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "v": pd.Series(vecs, dtype=object),
        "nrm": pd.Series(nrms, dtype="float64"),
        "bucket": "b",
    })


def test_bucket_topk_kernel_random_matches_bruteforce():
    rng = np.random.RandomState(11)
    for trial in range(5):
        m = rng.randint(2, 40)
        vecs = [rng.randn(8).tolist() for _ in range(m)]
        pdf = _bucket(rng.permutation(1000)[:m], vecs)
        assert _kernel_topk(pdf, 3, 3) == _reference_topk(pdf, 3, 3)


def test_bucket_topk_kernel_rounding_boundary_ties():
    # vectors engineered so unrounded cosines differ by < 10^-3: the
    # margin rule must keep every tie candidate so the window's right_id
    # tie-break sees them all
    rng = np.random.RandomState(5)
    base = rng.randn(6)
    vecs = [(base + rng.randn(6) * 1e-4).tolist() for _ in range(12)]
    pdf = _bucket(np.arange(12)[::-1].copy(), vecs)  # ids unsorted on purpose
    assert _kernel_topk(pdf, 3, 3) == _reference_topk(pdf, 3, 3)


def test_bucket_topk_kernel_small_and_null_buckets():
    kern = make_bucket_topk_pairs_kernel(k=3, round_decimals=3)
    # single row -> no pairs
    assert len(kern(_bucket([7], [[1.0, 0.0]]))) == 0
    # all-null bucket -> k smallest right ids per left, dot/norms NaN
    # (which the Arrow boundary turns into NULL, exactly like the old path)
    pdf = _bucket([4, 1, 3, 9, 2], [None] * 5, nrms=[None] * 5)
    res = kern(pdf)
    got = sorted(map(tuple, res[["left_id", "right_id"]].to_numpy().tolist()))
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 9),
                   (3, 4), (3, 9), (4, 9)]
    assert res[["dot", "lnrm", "rnrm"]].isna().all().all()


def test_bucket_topk_kernel_zero_norm_and_nan_vectors():
    """Adversarial inputs: zero-norm partners give 0/0 — under Spark 4
    ANSI mode the division ERRORS (identically in the old join and the
    new kernel-fed expression, because the kernel always RETAINS NaN-rank
    pairs: the error must surface, not be silently pruned away); this
    pandas-level harness models the ANSI-off/IEEE semantics (NaN ranks
    first) to verify the retention logic. NaN-component vectors produce a
    NULL dot (Arrow boundary, both formulations) that ranks LAST."""
    rng = np.random.RandomState(31)
    vecs = [rng.randn(6).tolist() for _ in range(6)]
    vecs += [[0.0] * 6 for _ in range(3)]        # zero-norm: cos = 0/0 = NaN
    vecs += [[np.nan] + [1.0] * 5]               # NaN component: dot NaN -> NULL
    pdf = _bucket(np.arange(10), vecs)
    assert _kernel_topk(pdf, 3, 3) == _reference_topk(pdf, 3, 3)
    # and with k larger than the finite population per left
    assert _kernel_topk(pdf, 5, 3) == _reference_topk(pdf, 5, 3)


def test_bucket_topk_kernel_chunking_consistent():
    # same answers when the pair workspace must chunk (patch the chunk cap
    # indirectly by using enough rows that multiple lefts share a chunk)
    rng = np.random.RandomState(3)
    vecs = [rng.randn(4).tolist() for _ in range(60)]
    pdf = _bucket(np.arange(60), vecs)
    assert _kernel_topk(pdf, 3, 3) == _reference_topk(pdf, 3, 3)


def test_seq_norm_udf_matches_interpreted_hof(spark):
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.udfs import (
        seq_norm_udf,
    )
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.similarity_search import (
        _norm,
    )

    rng = np.random.RandomState(19)
    rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(64)]
    rows.append((len(rows), None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(
        "vec_id",
        seq_norm_udf("embedding").alias("a"),
        _norm(F.col("embedding")).alias("b"),
    ).collect()
    for r in got:
        if r["b"] is None:
            assert r["a"] is None
        else:
            assert np.float64(r["a"]).tobytes() == np.float64(r["b"]).tobytes()


def test_lsh_window_cap_equals_antijoin_cap(spark):
    """The one-shuffle window cap drops exactly the bands the old
    aggregate+anti-join cap dropped (tight cap so it actually fires)."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.dedup import (
        minhash_band_keys,
        minhash_lsh_pairs,
    )

    rng = np.random.RandomState(23)
    vocab = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
                      "eta", "theta"], dtype=object)
    rows = []
    i = 0
    for g in range(12):  # duplicate pairs: bands of size 2, under the cap
        t = " ".join(vocab[rng.randint(0, len(vocab), 8)])
        rows.append((i, t)); rows.append((i + 1, t)); i += 2
    hot = " ".join(vocab[rng.randint(0, len(vocab), 8)])
    for _ in range(10):  # one hot text: its bands exceed the cap, dropped
        rows.append((i, hot)); i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 3
    new = {tuple(r) for r in minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", max_band_size=cap).collect()}
    keys = minhash_band_keys(docs, "doc_id", "text").persist()
    oversized = keys.groupBy("band").count().where(F.col("count") > cap).select("band")
    kept = keys.join(F.broadcast(oversized), "band", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    old = {tuple(r) for r in (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("left_id"), F.col("b.id").alias("right_id"))
        .distinct().collect())}
    keys.unpersist()
    assert new == old
    assert len(new) > 0


def _cc_both_paths(edges, monkeypatch, **kw):
    """CC labels as a row set, asserting the one-task path and the
    large-star/small-star path (forced by a bound of 0 edges) agree."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
        cluster,
    )

    one_task = {tuple(r) for r in cluster.connected_components(edges, **kw).collect()}
    with monkeypatch.context() as m:
        m.setattr(cluster, "ONE_TASK_MAX_EDGES", 0)
        star = {tuple(r) for r in cluster.connected_components(edges, **kw).collect()}
    assert one_task == star
    return one_task


def test_cc_rollup_selfloops_mixed_with_real_edges(spark, monkeypatch):
    """r6 roll-up rewrite: roots come from distinct cluster_ids of the
    converged star graph and self-loop singletons from a filtered input
    pass — a self-loop on a MEMBER, on a ROOT, and on an isolated node
    must all resolve exactly as the all_nodes formulation did."""
    edges = spark.createDataFrame(
        [
            ("b", "a"), ("c", "b"),      # chain: component min = a
            ("b", "b"),                  # self-loop on a member
            ("a", "a"),                  # self-loop on the root
            ("z", "z"), ("z", "z"),      # isolated self-loop node (dup rows)
            ("x", "y"),                  # second component, min = x
        ],
        ["u", "v"],
    )
    got = _cc_both_paths(edges, monkeypatch)
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("z", "z"),
    }


def test_cc_assume_no_self_loops_identical_when_none(spark, monkeypatch):
    """On a self-loop-free edge set the flag changes the plan (no second
    input pass), never the assignment."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("q", "p"), ("r", "q"), ("m", "n")],
        ["u", "v"],
    ).distinct()
    base = _cc_both_paths(edges, monkeypatch)
    fast = _cc_both_paths(edges, monkeypatch, assume_no_self_loops=True)
    assert base == fast


def test_cc_assume_no_self_loops_contract_drops_selfloop_only(spark, monkeypatch):
    """The documented flag contract: a node seen ONLY in u == v rows is
    dropped when the caller promises there are none, and kept as a
    singleton by default. (Callers with real self-loop rows — the
    incremental seed edges — must keep the default.)"""
    edges = spark.createDataFrame([("b", "a"), ("f", "f")], ["u", "v"])
    got = _cc_both_paths(edges, monkeypatch, assume_no_self_loops=True)
    assert got == {("a", "a"), ("b", "a")}

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], ["u", "v"]
    ).distinct()
    assert _cc_both_paths(edges, monkeypatch) == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f"),
    }
    assert _cc_both_paths(edges, monkeypatch, assume_no_self_loops=True) == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
    }
