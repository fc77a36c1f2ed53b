"""Similarity search over an embedding column (array<float>).

Three paths:
- ``brute_force_topk``: exact cosine top-k — the baseline, one pass, no
  shuffle (query vectors broadcast as a small-side broadcast join).
- ``ivf_topk``: IVF-style scale path — k-means-ish coarse centroids picked
  deterministically from the corpus, every vector assigned to its nearest
  centroid (map-only), queries probe ``n_probe`` nearest centroid cells and
  score only those cells. Shuffle = one hash join on cell id.
- ``hyperplane_bucket_pairs``: all-pairs cosine inside hyperplane-LSH
  buckets (the x4 top-k and the x7/x16 near-dup threshold), one
  ``groupBy(bucket).applyInPandas`` pass — each vector crosses the Python
  boundary once, not once per candidate pair.

The first two score each (vector, query) pair with Arrow-batched
sequential folds (``seq_norm_udf`` once per row, ``seq_dot_udf`` per
pair); the bucket kernel runs the same folds inside its group. All three
keep the fold order of the interpreted ``aggregate(zip_with(...))`` HOF
(``_dot``/``_norm`` below), so every double is bit-identical to it, and
leave the division and rounding to the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import spread


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k per query: broadcast the (small) query side, score all
    vectors, window top-k. Cost O(|vectors| * |queries|) — the baseline.
    ``vectors`` carries (vec_id, embedding), ``queries`` (q_id, q_vec), in
    this and every other search operator here.

    r6 plan shape: norms are computed ONCE per row/query (the factored
    ``_norm`` expression yields the identical double), and the per-pair dot
    runs through the Arrow-batched ``seq_dot_udf`` (same left-to-right fold
    order as the ``aggregate`` HOF it replaces — bit-exact) instead of
    interpreted per-element lambdas.
    """
    from ..functions.udfs import seq_dot_udf, seq_norm_udf

    # O(dim) math per (vector, query) pair: repair one-task scan
    # parallelism before paying it (no-op on parallel scans). The corpus
    # norm runs through the Arrow-batched fold (bit-exact with the
    # interpreted HOF — same addition order) instead of per-row lambdas.
    v = spread(vectors).select(
        F.col("vec_id"), F.col("embedding"), seq_norm_udf(F.col("embedding")).alias("_vn")
    )
    q = queries.select(
        F.col("q_id"), F.col("q_vec"), seq_norm_udf(F.col("q_vec")).alias("_qn")
    )
    joined = v.crossJoin(F.broadcast(q))
    scored = joined.select(
        F.col("q_id"), F.col("vec_id"),
        F.round(
            seq_dot_udf(F.col("embedding"), F.col("q_vec"))
            / (F.col("_vn") * F.col("_qn")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _nearest_cells_udf(
    centroids: list[tuple[int, list[float]]], n: int, decimals: int = 9
):
    """Arrow-batched nearest-centroid picker: the centroid matrix travels in
    the UDF closure (serialized once per executor), the batch of vectors is
    one numpy matmul — map-only, no join, no O(cells x dim) literals in the
    plan. Ordering matches the previous literal-struct argmax: cosine rounded
    to ``decimals``, ties broken toward the larger cell id (the x9 driver
    query uses decimals=6 so a DuckDB oracle can replicate the argmax)."""
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    mat = np.array([v for _, v in centroids], dtype=np.float64)
    cn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def pick(vecs: pd.Series) -> pd.Series:
        v = np.array(vecs.tolist(), dtype=np.float64)  # (b, dim)
        vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
        sims = np.round(vn @ cn.T, decimals)  # (b, cells)
        # desc by sim, ties desc by cell id (reverse(array_sort) parity)
        order = np.lexsort((-cids[None, :].repeat(len(v), 0), -sims), axis=1)
        top = order[:, :n]
        return pd.Series([cids[row].astype(int).tolist() for row in top],
                         index=vecs.index)

    return pick


def refine_ivf_centroids(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    assign_decimals: int = 9,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd iterations over the seed centroids.

    Each round: map-only nearest-centroid assignment (the same Arrow argmax
    as the index build), then the per-cell mean via posexplode +
    groupBy(cell, dim) avg — all native. Only n_cells x dim aggregated rows
    reach the driver (the size of the centroid matrix itself, independent of
    corpus size — the same small-collect bound as ``build_ivf_index``).
    Empty cells keep their previous centroid. Deterministic given the same
    seed centroids and input up to floating-point summation order; the
    oracled x9 query keeps ``iters=0`` (exact seed centroids) so its DuckDB
    replica stays bit-reproducible, and refinement is measured by the
    recall@k pytest instead.

    Why it matters at scale: md5-seeded centroids follow the DATA density,
    so a skewed embedding distribution oversamples dense regions and starves
    sparse ones, inflating the cells a probe must scan; one or two Lloyd
    rounds move centroids toward the k-means optimum and recover probe
    recall without giving up the deterministic seed.
    """
    cur = centroids
    for _ in range(iters):
        pick1 = _nearest_cells_udf(cur, 1, decimals=assign_decimals)
        # spherical k-means update: assignment is by COSINE, so the centroid
        # update must average UNIT vectors — a raw mean would let one
        # large-magnitude member swing the whole cell's direction (direction
        # is all that matters; _nearest_cells_udf re-normalizes centroids)
        # compute the O(dim) norm ONCE per row; dividing inside the
        # transform lambda would re-evaluate it per element (O(dim^2)/row)
        norm = F.greatest(_norm(F.col("embedding")), F.lit(1e-300))
        assigned = (
            vectors.select(F.col("embedding").alias("raw"), norm.alias("n"))
            .select(
                F.transform(
                    F.col("raw"), lambda x: x.cast("double") / F.col("n")
                ).alias("v")
            )
            .withColumn("cell", pick1(F.col("v"))[0])
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cur = [
            (cid, [by_cell[cid][p] for p in range(len(old))])
            if cid in by_cell else (cid, old)
            for cid, old in cur
        ]
    return cur


def build_ivf_index(
    vectors: DataFrame, n_cells: int = 16, assign_decimals: int = 9, refine_iters: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic coarse quantizer: centroids = the n_cells vectors with
    the smallest md5(id). ``orderBy(...).limit(n)`` compiles to
    TakeOrderedAndProject (per-partition top-n + driver merge — NOT a global
    sort), and only n_cells rows ever reach the driver. Assignment is a
    map-only Arrow-batched argmax against the closure-captured centroid
    matrix, so the plan stays O(1) regardless of n_cells x dim.
    ``refine_iters > 0`` runs that many distributed Lloyd rounds on the
    seed centroids before assignment (see ``refine_ivf_centroids``)."""
    cent_rows = (
        vectors.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(n_cells)
        .collect()
    )
    centroids = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(cent_rows)]
    if refine_iters:
        centroids = refine_ivf_centroids(
            vectors, centroids, iters=refine_iters, assign_decimals=assign_decimals
        )
    # assignment is the full-corpus Arrow pass (and downstream ivf_topk
    # scores on this partitioning via a broadcast probe join): spread a
    # one-task fixture scan across the cores first
    return _assign_cells(spread(vectors), centroids, assign_decimals), centroids


def _assign_cells(
    vectors: DataFrame, centroids: list[tuple[int, list[float]]], assign_decimals: int
) -> DataFrame:
    """``vectors`` with the id of its nearest centroid as ``cell``. The
    picker always returns a cell; the coalesce only declares ``cell``
    non-null, so the inferred ``isnotnull(cell)`` of a join on it is
    dropped instead of being pushed below an input repartition, where it
    would run the picker a second time."""
    pick1 = _nearest_cells_udf(centroids, 1, decimals=assign_decimals)
    return vectors.withColumn("cell", F.coalesce(pick1(F.col("embedding"))[0], F.lit(-1)))


def ivf_insert(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    new_vectors: DataFrame,
    assign_decimals: int = 9,
) -> DataFrame:
    """Fold new vectors into an existing IVF index: the NEW batch is
    assigned against the FIXED centroids (map-only) and unioned with the
    committed assignments — no rebuild, no re-assignment of the old corpus.

    The idempotence guard anti-joins the new batch against the old ID
    column (an id-only pushdown scan + one shuffle over ids). Ids are treated as
    IMMUTABLE: a re-submitted id keeps its committed embedding/cell — this
    is append-only index maintenance, not upsert. Identical to rebuilding
    only while the coarse quantizer stays representative; rebuild when the
    distribution drifts (cell-size skew in ``assigned.groupBy('cell')`` is
    the canary).
    """
    # ids are unique in the index; no distinct needed for anti-join
    fresh = new_vectors.join(assigned.select("vec_id"), "vec_id", "left_anti")
    newly = _assign_cells(fresh, centroids, assign_decimals)
    return assigned.unionByName(newly.select(*assigned.columns))


def ivf_topk(
    assigned: DataFrame, centroids: list[tuple[int, list[float]]],
    queries: DataFrame, k: int = 10, n_probe: int = 4,
    assign_decimals: int = 9, score_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: each query probes its n_probe nearest cells only.

    Same r6 scoring shape as ``brute_force_topk``: per-row norms factored
    out of the pair loop, Arrow-batched sequential-fold dot per probed pair
    (bit-exact with the interpreted HOF cosine it replaces)."""
    from ..functions.udfs import seq_dot_udf, seq_norm_udf

    pick = _nearest_cells_udf(centroids, n_probe, decimals=assign_decimals)
    q = queries.withColumn("cell", F.explode(pick(F.col("q_vec")))).withColumn(
        "_qn", seq_norm_udf(F.col("q_vec"))
    )
    # corpus-side norm via the Arrow-batched fold (bit-exact, see
    # brute_force_topk) — the interpreted HOF was O(dim) lambda steps/row
    av = assigned.withColumn("_vn", seq_norm_udf(F.col("embedding")))
    joined = av.join(q, "cell", "inner")
    scored = joined.select(
        F.col("q_id"), F.col("vec_id"),
        F.round(
            seq_dot_udf(F.col("embedding"), F.col("q_vec"))
            / (F.col("_vn") * F.col("_qn")),
            score_decimals,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


# pair bound of one kernel chunk (a run of left rows with all their
# partners); the chunk's numpy workspace is about 100 bytes per pair
MAX_KERNEL_PAIRS = 4_000_000


def make_bucket_pairs_kernel(
    decimals: int,
    k: int | None = None,
    threshold: float | None = None,
    new_col: str | None = None,
):
    """The pandas function behind ``hyperplane_bucket_pairs``: one bucket's
    ``(id, v[, new_col])`` rows in, candidate ``(left_id, right_id, dot,
    lnrm, rnrm)`` rows out, ``left_id < right_id``.

    Exactness: the kernel emits the dot and both norms, not the cosine.
    Each is the left-to-right sequential fold of the interpreted HOF
    (vectorized across pairs, one dimension at a time), and the caller
    applies ``round(dot / (lnrm * rnrm), decimals)`` in the JVM — so the
    surviving rows are bit-equal to a bucket self-join's, and the JVM keeps
    its own NaN, NULL and ANSI division semantics (a NaN dot or norm turns
    NULL at the Arrow boundary, as the per-pair ``seq_dot_udf`` did). A
    null vector is folded as a NaN row: its dot and norms cross as NULL,
    which is exactly what the join gave it.

    Pruning keeps a provable superset of what the caller's filter keeps;
    the kernel computes the same cosine the JVM will, and rounding to
    ``decimals`` moves it by at most half a unit ``u = 10^-decimals`` (plus
    an ulp):
    - threshold mode keeps every pair with cosine ``>= threshold - u`` and
      every non-finite cosine (a zero norm must still reach the JVM
      division, where ANSI mode raises DIVIDE_BY_ZERO; Spark orders NaN
      above every number, so a NaN cosine passes the filter);
    - top-k mode keeps, per left id, every pair within ``2u`` of the k-th
      best, ranked like Spark's descending order: NaN cosine first
      (as +inf), NULL (a NaN dot or norm) last (as -inf) — and of the NULL
      ties only the k smallest right ids, the window's tie-break. A zero
      divisor ranks as NULL (what the division gives with ANSI mode off)
      and is always kept (with ANSI mode on it must raise).

    ``new_col`` (a boolean column) keeps only pairs with at least one new
    endpoint — the delta pass. Ids compare with Python's ``<``; on
    strings that is code-point order, which is the UTF-8 byte order Spark
    uses. Rows sharing an id never pair (the join's ``a.id < b.id``).
    """
    if (k is None) == (threshold is None):
        raise ValueError("give exactly one of k and threshold")
    unit = 10.0 ** -decimals

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        m = len(ids)
        vecs = pdf["v"].to_numpy()[order]
        width = next((len(x) for x in vecs if x is not None), 1)
        X = np.stack(
            [np.full(width, np.nan) if x is None else x for x in vecs]
        ).astype(np.float64).T.copy()  # (dim, m): one row per dimension
        sq = np.zeros(m)
        for row in X:
            sq += row * row
        nrm = np.sqrt(sq)
        # equal ids never pair: compare run numbers of the sorted ids
        run = np.zeros(m, dtype=np.int64)
        if m > 1:
            np.cumsum(ids[1:] != ids[:-1], out=run[1:])
        new = None if new_col is None else pdf[new_col].to_numpy(dtype=bool)[order]
        out_i: list = []
        out_j: list = []
        out_d: list = []
        i0 = 0
        while i0 < m - 1:
            # lefts [i0, i1) pair with every later row
            i1, total = i0, 0
            while i1 < m - 1 and (total == 0 or total + (m - 1 - i1) <= MAX_KERNEL_PAIRS):
                total += m - 1 - i1
                i1 += 1
            counts = np.arange(m - 1 - i0, m - 1 - i1, -1)
            starts = np.cumsum(counts) - counts
            ii = np.repeat(np.arange(i0, i1), counts)
            jj = ii + 1 + np.arange(total) - np.repeat(starts, counts)
            ok = run[ii] != run[jj]
            if new is not None:
                ok &= new[ii] | new[jj]
            ii, jj = ii[ok], jj[ok]
            dot = np.zeros(len(ii))
            for row in X:
                dot += row[ii] * row[jj]
            den = nrm[ii] * nrm[jj]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / den
            if threshold is not None:
                keep = ~np.isfinite(cos) | (cos >= threshold - unit)
            else:
                keep = _topk_keep(ii, dot, den, cos, k, 2 * unit)
            out_i.append(ii[keep])
            out_j.append(jj[keep])
            out_d.append(dot[keep])
            i0 = i1
        ii = np.concatenate(out_i) if out_i else np.zeros(0, dtype=np.intp)
        jj = np.concatenate(out_j) if out_j else np.zeros(0, dtype=np.intp)
        return pd.DataFrame({
            "left_id": ids[ii], "right_id": ids[jj],
            "dot": np.concatenate(out_d) if out_d else np.zeros(0),
            "lnrm": nrm[ii], "rnrm": nrm[jj],
        })

    return kern


def _topk_keep(ii, dot, den, cos, k, margin):
    """Per left (``ii`` is sorted), the candidates that can still reach the
    window's top k after rounding — see ``make_bucket_pairs_kernel``."""
    null = np.isnan(dot) | np.isnan(den) | (den == 0)
    rankv = np.where(null, -np.inf, np.where(np.isnan(cos), np.inf, cos))
    keep = den == 0
    bounds = np.flatnonzero(np.diff(ii)) + 1
    for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(ii)]):
        blk = rankv[s:e]
        if e - s <= k:
            keep[s:e] = True
            continue
        kth = np.partition(blk, len(blk) - k)[len(blk) - k]
        if kth == -np.inf:
            # fewer than k non-NULL cosines: all of them, then the NULL
            # ties in right-id (= position) order
            nulls = blk == -np.inf
            keep[s:e] |= ~nulls | (np.cumsum(nulls) <= k)
        else:
            keep[s:e] |= blk >= kth - margin
    return keep


def hyperplane_bucket_pairs(
    keyed: DataFrame,
    decimals: int,
    k: int | None = None,
    threshold: float | None = None,
    new_col: str | None = None,
) -> DataFrame:
    """Cosine pairs inside hyperplane-LSH buckets: ``(left_id, right_id,
    cos_sim)`` over the ``(id, v, bucket)`` rows of
    ``dedup.embedding_bucket_keys``, ``left_id < right_id``, ``cos_sim =
    round(dot / (|l| |r|), decimals) + 0.0`` (the ``+ 0.0`` folds the -0.0
    that round() gives a tiny negative cosine; value hashes are
    bit-sensitive).

    Give exactly one prune mode:
    - ``threshold``: every pair with ``cos_sim >= threshold`` (x7);
    - ``k``: per left id, the k best by ``cos_sim`` desc, right id asc (x4).
    ``new_col`` names a boolean column of ``keyed``; only pairs with at
    least one true endpoint are produced (x16's delta).

    Plan: one shuffle on bucket and one ``FlatMapGroupsInPandas``
    (``make_bucket_pairs_kernel``) that sees each bucket's vectors once
    and emits a provable superset of the result; the division, rounding
    and filter or window run in the JVM on the kernel's doubles. A bucket
    is one pandas group, so its population (about rows / 2^n_planes) is
    what bounds the task — n_planes must grow with the corpus, as it must
    for any bucketed all-pairs search.

    Rows with a null id pair with nothing. In threshold mode rows with a
    null vector are dropped before the shuffle (their cosine is NULL); in
    top-k mode they stay, as NULL cosines that rank last.
    """
    id_type = keyed.schema["id"].dataType
    cols = ["id", "v", "bucket"] + ([new_col] if new_col else [])
    rows = keyed.where(F.col("id").isNotNull())
    if threshold is not None:
        rows = rows.where(F.col("v").isNotNull())
    schema = T.StructType([
        T.StructField("left_id", id_type), T.StructField("right_id", id_type),
        T.StructField("dot", T.DoubleType()), T.StructField("lnrm", T.DoubleType()),
        T.StructField("rnrm", T.DoubleType()),
    ])
    pairs = rows.select(*cols).groupBy("bucket").applyInPandas(
        make_bucket_pairs_kernel(decimals, k=k, threshold=threshold, new_col=new_col),
        schema=schema,
    ).select(
        "left_id", "right_id",
        (F.round(F.col("dot") / (F.col("lnrm") * F.col("rnrm")), decimals)
         + F.lit(0.0)).alias("cos_sim"),
    )
    if threshold is not None:
        return pairs.where(F.col("cos_sim") >= threshold)
    w = Window.partitionBy("left_id").orderBy(F.col("cos_sim").desc(), F.col("right_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
