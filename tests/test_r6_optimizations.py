"""Focused tests for the r6 optimization internals: the per-bucket
hyperplane-LSH pairs kernel (top-k and threshold modes), the Arrow-batched
norm, the one-shuffle LSH cap, and the CC roll-up and self-loop flag — each
asserting equivalence with the (slower) formulation it replaced, on
adversarial inputs the driver data does not exercise (rounding-boundary
ties, sub-k buckets, null, NaN, inf and zero-norm embeddings, duplicate
vectors, non-ASCII string ids)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators.similarity_search import (
    hyperplane_bucket_pairs,
    make_bucket_pairs_kernel,
)


def _spark_round(x, decimals):
    """Spark's round() on a double, then ``+ 0.0``: identity on NaN/±inf,
    BigDecimal HALF_UP on the shortest repr otherwise."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    x = float(x)
    if np.isnan(x) or np.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-decimals), rounding=ROUND_HALF_UP)) + 0.0


def _id_key(i):
    """Spark's id order: strings by UTF-8 bytes, numbers by value."""
    return i.encode("utf-8") if isinstance(i, str) else i


def _desc_key(pair):
    """Spark's (cos_sim DESC, right_id ASC) ordering: NaN first (NaN sorts
    greater than +inf), then by value desc, NULL last."""
    c = pair[2]
    if c is None:
        return (2, 0.0, _id_key(pair[1]))
    if np.isnan(c):
        return (0, 0.0, _id_key(pair[1]))
    return (1, -c, _id_key(pair[1]))


def _jvm_cos(dot, lnrm, rnrm):
    """The JVM division with ANSI mode off: NULL propagates, a zero
    divisor gives NULL, otherwise IEEE (inf/inf = NaN). With ANSI mode on
    a zero divisor raises instead, which the Spark-level tests check."""
    if dot is None or lnrm is None or rnrm is None:
        return None
    den = np.float64(lnrm) * np.float64(rnrm)
    if den == 0:
        return None
    with np.errstate(invalid="ignore"):
        return float(np.float64(dot) / den)


def _canon(pairs):
    """Comparable multiset form: NaN != NaN and 0.0 == -0.0 would hide
    differences, so cosines compare by their hex."""
    def c(v):
        if v is None:
            return "NULL"
        return "NaN" if np.isnan(v) else float(v).hex()
    return sorted((_id_key(l), _id_key(r), c(v)) for l, r, v in pairs)


def _topk(cand, k):
    out = []
    for left in {c[0] for c in cand}:
        mine = sorted([c for c in cand if c[0] == left], key=_desc_key)
        out.extend(mine[:k])
    return _canon(out)


def _threshold(cand, t):
    # Spark orders NaN above every number, so a NaN cosine passes
    return _canon(c for c in cand if c[2] is not None and (np.isnan(c[2]) or c[2] >= t))


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _arrow(x):
    """A NaN double crossing Arrow from pandas arrives as NULL."""
    return None if x is None or np.isnan(x) else x


def _reference_pairs(rows, decimals, new=None):
    """The OLD formulation in plain Python: a bucket self-join on
    ``a.id < b.id``, a per-pair dot and per-row norms through the sequential
    fold (NaN -> NULL at the Arrow boundary), the JVM division, round and
    ``+ 0.0``. ``rows`` are ``(id, v, bucket)``; ``new`` (a set of row
    positions) keeps only pairs touching a new row — the delta join."""
    out = []
    for ia, a in enumerate(rows):
        for ib, b in enumerate(rows):
            if a[0] is None or b[0] is None or a[2] != b[2]:
                continue
            if not _id_key(a[0]) < _id_key(b[0]):
                continue
            if new is not None and ia not in new and ib not in new:
                continue
            if a[1] is None or b[1] is None:
                dot = ln = rn = None
            else:
                dot = _arrow(_fold(a[1], b[1]))
                ln = _arrow(math.sqrt(_fold(a[1], a[1])))
                rn = _arrow(math.sqrt(_fold(b[1], b[1])))
            out.append((a[0], b[0], _spark_round(_jvm_cos(dot, ln, rn), decimals)))
    return out


def _kernel_pairs(pdf, decimals, **mode):
    """The kernel plus the same boundary and JVM math, in Python."""
    res = make_bucket_pairs_kernel(decimals, **mode)(pdf)
    return [
        (r.left_id, r.right_id,
         _spark_round(_jvm_cos(_arrow(r.dot), _arrow(r.lnrm), _arrow(r.rnrm)), decimals))
        for r in res.itertuples()
    ]


def _rows(pdf):
    return list(zip(pdf["id"], pdf["v"], pdf["bucket"]))


def _reference_topk(pdf, k, decimals):
    return _topk(_reference_pairs(_rows(pdf), decimals), k)


def _kernel_topk(pdf, k, decimals):
    return _topk(_kernel_pairs(pdf, decimals, k=k), k)


def _bucket(ids, vecs):
    return pd.DataFrame({
        "id": list(ids),
        "v": pd.Series(vecs, dtype=object),
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
    kern = make_bucket_pairs_kernel(3, k=3)
    # single row -> no pairs
    assert len(kern(_bucket([7], [[1.0, 0.0]]))) == 0
    # all-null bucket -> k smallest right ids per left, dot/norms NaN
    # (which the Arrow boundary turns into NULL, exactly like the old path)
    pdf = _bucket([4, 1, 3, 9, 2], [None] * 5)
    res = kern(pdf)
    got = sorted(map(tuple, res[["left_id", "right_id"]].to_numpy().tolist()))
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 9),
                   (3, 4), (3, 9), (4, 9)]
    assert res[["dot", "lnrm", "rnrm"]].isna().all().all()
    # null vectors mixed into a populated bucket rank last, like NaN dots
    pdf = _bucket([5, 1, 3, 9, 2], [[1.0, 0.0], None, [0.9, 0.1], None, [0.5, 0.5]])
    assert _kernel_topk(pdf, 2, 3) == _reference_topk(pdf, 2, 3)


def test_bucket_topk_kernel_zero_norm_and_nan_vectors():
    """Adversarial inputs: zero-norm partners give a zero divisor — under
    Spark 4 ANSI mode the division ERRORS (identically in the old join and
    the new kernel-fed expression, because the kernel always RETAINS
    zero-divisor pairs: the error must surface, not be silently pruned
    away); this pandas-level harness models ANSI-off semantics (NULL,
    ranked last) to verify the ranking. NaN-component vectors produce a
    NULL dot (Arrow boundary, both formulations) that ranks LAST too."""
    rng = np.random.RandomState(31)
    vecs = [rng.randn(6).tolist() for _ in range(6)]
    vecs += [[0.0] * 6 for _ in range(3)]        # zero-norm: zero divisor
    vecs += [[np.nan] + [1.0] * 5]               # NaN component: dot NaN -> NULL
    pdf = _bucket(np.arange(10), vecs)
    assert _kernel_topk(pdf, 3, 3) == _reference_topk(pdf, 3, 3)
    # and with k larger than the finite population per left
    assert _kernel_topk(pdf, 5, 3) == _reference_topk(pdf, 5, 3)


def test_bucket_topk_kernel_chunking_consistent(monkeypatch):
    # same answers when the pair workspace must chunk: a 60-row bucket has
    # 1,770 pairs, far above a pair bound of 100
    rng = np.random.RandomState(3)
    vecs = [rng.randn(4).tolist() for _ in range(60)]
    pdf = _bucket(np.arange(60), vecs)
    whole = _kernel_topk(pdf, 3, 3)
    assert whole == _reference_topk(pdf, 3, 3)
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
        similarity_search,
    )

    monkeypatch.setattr(similarity_search, "MAX_KERNEL_PAIRS", 100)
    assert _kernel_topk(pdf, 3, 3) == whole
    assert _threshold(_kernel_pairs(pdf, 3, threshold=0.2), 0.2) == _threshold(
        _reference_pairs(_rows(pdf), 3), 0.2
    )


def _adversarial_rows(rng, ids, t, dim=6, n_buckets=3):
    """(id, v, bucket) rows, one per id plus a null-id row: random vectors
    in random buckets, and, each sharing a bucket with its partner, pairs
    whose cosine is within 1e-6 of ``t``, duplicate vectors, a NaN and an
    inf component, a 1e-100-scaled copy, a null vector and a repeated id."""
    n = len(ids)
    vecs = [rng.randn(dim).tolist() for _ in range(n - 16)]
    groups = []

    def add(*vs):
        groups.append(range(len(vecs), len(vecs) + len(vs)))
        vecs.extend(vs)

    for _ in range(4):
        a = rng.randn(dim)
        a /= np.linalg.norm(a)
        perp = rng.randn(dim)
        perp -= perp.dot(a) * a
        perp /= np.linalg.norm(perp)
        theta = math.acos(min(1.0, max(-1.0, t + rng.uniform(-1e-6, 1e-6))))
        add(a.tolist(), (math.cos(theta) * a + math.sin(theta) * perp).tolist())
    add(vecs[0], vecs[0])
    add([np.nan] + vecs[1][1:], [np.inf] + vecs[2][1:])
    add((np.array(vecs[3]) * 1e-100).tolist(), vecs[3])
    add(None, vecs[4])
    buckets = [f"b{rng.randint(n_buckets)}" for _ in vecs]
    for g in groups:
        for p in g:
            buckets[p] = buckets[g[0]]
    rows = list(zip(ids, vecs, buckets))
    rows[-1] = (rows[4][0], vecs[4], buckets[4])  # same id, vector and bucket
    return rows + [(None, vecs[5], buckets[5])]


def test_bucket_pairs_kernel_threshold_and_delta_match_bruteforce():
    """Threshold mode (x7) and its delta flag (x16) against the self-join
    reference, cosines within 1e-6 of the threshold included."""
    rng = np.random.RandomState(41)
    for t in (0.95, 0.3, -1.0):
        rows = [r for r in _adversarial_rows(rng, rng.permutation(500)[:40], t)
                if r[0] is not None]
        new = {i for i in range(len(rows)) if rng.rand() < 0.3}
        for b in sorted({r[2] for r in rows}):
            mine = [i for i, r in enumerate(rows) if r[2] == b]
            pdf = _bucket([rows[i][0] for i in mine], [rows[i][1] for i in mine])
            pdf["is_new"] = [i in new for i in mine]
            ref = _reference_pairs([rows[i] for i in mine], 6)
            assert _threshold(_kernel_pairs(pdf, 6, threshold=t), t) == _threshold(ref, t)
            ref = _reference_pairs([rows[i] for i in mine], 6,
                                   new={p for p, i in enumerate(mine) if i in new})
            got = _kernel_pairs(pdf, 6, threshold=t, new_col="is_new")
            assert _threshold(got, t) == _threshold(ref, t)


_STR_IDS = ["a", "b", "B", "v00", "v01", "é", "ß", "日本", "\uff5e", "\U0001f600",
            "zz", "Z", "ä", "ô", "한", "ü"]


def _keyed(spark, rows, id_type, new=None):
    data = [(i, v, b) if new is None else (i, v, b, p in new)
            for p, (i, v, b) in enumerate(rows)]
    schema = f"id {id_type}, v array<double>, bucket string" + (
        "" if new is None else ", is_new boolean")
    return spark.createDataFrame(data, schema)


def _collect(df):
    return _canon(tuple(r) for r in df.collect())


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_hyperplane_bucket_pairs_matches_self_join(spark, id_type):
    """The operator against the plain-Python self-join reference, in both
    prune modes and the delta mode, on long and (non-ASCII) string ids."""
    rng = np.random.RandomState(7 if id_type == "bigint" else 8)
    n = 60
    if id_type == "bigint":
        ids = [int(x) for x in rng.permutation(10**6)[:n]]
    else:
        ids = [_STR_IDS[i % len(_STR_IDS)] * (1 + i // len(_STR_IDS)) for i in range(n)]
        ids = [ids[i] for i in rng.permutation(n)]
    for t in (0.95, 0.3, -1.0):
        rows = _adversarial_rows(rng, ids, t)
        keyed = _keyed(spark, rows, id_type)
        got = _collect(hyperplane_bucket_pairs(keyed, decimals=6, threshold=t))
        assert got == _threshold(_reference_pairs(rows, 6), t)
        new = {p for p in range(len(rows)) if rng.rand() < 0.3}
        got = _collect(hyperplane_bucket_pairs(
            _keyed(spark, rows, id_type, new), decimals=6, threshold=t, new_col="is_new"))
        assert got == _threshold(_reference_pairs(rows, 6, new=new), t)
    got = _collect(hyperplane_bucket_pairs(keyed, decimals=3, k=3))
    assert got == _topk(_reference_pairs(rows, 3), 3)


@pytest.mark.parametrize("mode", [{"threshold": 0.5}, {"k": 3}])
def test_hyperplane_bucket_pairs_zero_norm_raises(spark, mode):
    """A zero-norm vector reaches the JVM division, where ANSI mode raises
    DIVIDE_BY_ZERO — as the self-join did — instead of being pruned."""
    rows = [(1, [1.0, 0.0], "b"), (2, [0.0, 0.0], "b"), (3, [0.9, 0.1], "b")]
    keyed = spark.createDataFrame(rows, "id long, v array<double>, bucket string")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        hyperplane_bucket_pairs(keyed, decimals=6, **mode).collect()


def test_hyperplane_bucket_pairs_zero_norm_without_ansi(spark):
    """With ANSI mode off a zero divisor gives a NULL cosine: dropped by
    the threshold, ranked last by the top-k window — zero-norm partners
    must not crowd real ones out of a left id's top k."""
    rng = np.random.RandomState(9)
    rows = _adversarial_rows(rng, list(range(40)), 0.3)
    for p in (5, 6, 7, 8):  # zero vectors in one populated bucket
        rows[p] = (rows[p][0], [0.0] * 6, rows[0][2])
    keyed = _keyed(spark, rows, "bigint")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = _collect(hyperplane_bucket_pairs(keyed, decimals=3, k=3))
        assert got == _topk(_reference_pairs(rows, 3), 3)
        got = _collect(hyperplane_bucket_pairs(keyed, decimals=6, threshold=0.3))
        assert got == _threshold(_reference_pairs(rows, 6), 0.3)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


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
        docs, max_band_size=cap).collect()}
    keys = minhash_band_keys(docs).persist()
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
