"""Transitive clustering: connected components over a (u, v) edge list.

The reference makes per-pair decisions only (check_landing_page...py emits
one decision per row; no transitive closure anywhere) — clusters are the
north_rule extension. Every node gets the smallest node id of its
component (deterministic, order-free — the CC invariants of SURVEY.md
§5.5). The input is checkpointed and counted once, and the count picks
one of two paths:

- at or below ``ONE_TASK_MAX_EDGES`` (a memory bound, see below) the
  checkpointed edges are coalesced to ONE partition and labelled in one
  ``mapInPandas`` task — no shuffle, one Arrow crossing, 4-5 Spark jobs in
  all. ``pd.factorize(sort=True)`` maps ids to dense codes in Spark's own
  order (UTF-8 byte order is code-point order), and a numpy union-find
  (hook each root onto the smaller root across an edge, then pointer-jump
  every tree flat) makes each code's root the smallest code of its
  component;
- above it, Kiveris et al., "Connected Components in MapReduce and Beyond"
  (SOCC'14): alternating large-star/small-star rounds, each a groupBy-min +
  join, O(log n) rounds on any graph shape. Every round is one shuffle
  (groupBy node) + one join on node, ``localCheckpoint()`` after each round
  truncates lineage (SURVEY.md §7.4 risk (e)), and convergence = the edge
  multiset stops changing, tested with a count + xxhash64 checksum
  aggregate (no full exceptAll at scale). Rounds that run out of
  ``max_iter`` raise instead of emitting a half-converged assignment.

Node ids are compared in Spark's order (strings: min() over the UTF-8 byte
order picks the root); ``u`` and ``v`` share one type, which the output
columns keep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge count up to which one Python worker labels the whole graph. At 2M
# edges (4M 16-character endpoint ids as pandas objects plus int64 code
# arrays) the labelling peaks near 0.6 GB and takes ~8 s on one core of a
# 4-core x86 host — 6 s of it the sorted factorize, 0.4 s the union-find —
# while the star rounds pay several Spark jobs and shuffles per round at
# any size. Past it, one worker's memory, not speed, is what gives out first.
ONE_TASK_MAX_EDGES = 2_000_000


def _min_roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """root[i] = smallest code in node i's component, for codes 0..n-1
    joined by the edges (u[k], v[k]).

    Union-find in whole-array steps: every root hooks onto the smallest root
    it shares an edge with, then pointer jumping flattens every tree onto
    its root. A parent is never larger than its child, so a root is the
    smallest code of its tree; edges whose ends already share a root are
    dropped for good, and the loop ends when none are left (each pass hooks
    at least the largest root still on an edge).
    """
    parent = np.arange(n)
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return parent
        u, v, pu, pv = u[cross], v[cross], pu[cross], pv[cross]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _label_one_task(batches):
    """mapInPandas body: all (u, v) batches of the single partition ->
    (node, cluster_id) for every node they mention."""
    frames = list(batches)
    if not frames:
        return
    edges = pd.concat(frames, ignore_index=True)
    codes, ids = pd.factorize(
        pd.concat([edges["u"], edges["v"]], ignore_index=True), sort=True
    )
    ids = np.asarray(ids)
    n_edges = len(edges)
    root = _min_roots(codes[:n_edges], codes[n_edges:], len(ids))
    yield pd.DataFrame({"node": ids, "cluster_id": ids[root]})


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    No output ``distinct`` (one Exchange less per round): the composed
    round ``_small_star(_large_star(e))`` is duplicate-insensitive —
    small-star's groupBy-min ignores multiplicity and its own final
    distinct collapses the round's output — and the un-deduped
    intermediate is bounded by the input edge count.
    """
    und = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.withColumn("m", F.least(F.col("mv"), F.col("u"))).drop("mv")
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect all to the min."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(mins, "u")
        .select(F.col("v").alias("node"), "m")
        .unionByName(mins.select(F.col("u").alias("node"), "m"))
        .where(F.col("node") != F.col("m"))
        .select(F.col("node").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    return out


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal sum: ANSI-safe (no long overflow) and order-independent
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _star_components(
    e: DataFrame, max_iter: int, assume_no_self_loops: bool
) -> DataFrame:
    """The large-star/small-star path over the checkpointed, null-free
    input ``e``."""
    s = e.where(F.col("u") != F.col("v")).distinct()
    prev = None
    for _ in range(max_iter):
        # Checkpointing EVERY round is load-bearing, not just lineage
        # hygiene: a round reads its input from several places (both union
        # branches of ``und`` and the groupBy), so an un-truncated 2-round
        # plan recomputes the previous round multiplicatively — measured 5x
        # slower at sf1.0 when the checkpoint was moved to check boundaries
        # only. Lazy: the checksum below materializes it with the round, and
        # checking every round converges in the fewest rounds (the checksum
        # is a cheap agg next to a star round).
        s = _small_star(_large_star(s)).localCheckpoint(eager=False)
        cur = _checksum(s)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: star rounds did not converge within "
            f"max_iter={max_iter} rounds"
        )
    # Converged star graph: every edge is (member, root), members and roots
    # are disjoint, and the rounds preserve the (u != v)-filtered node set —
    # so labels ∪ distinct-roots IS the full non-isolated node assignment,
    # read from the checkpointed converged edges only.
    labels = s.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    roots = (
        s.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster_id"))
    )
    out = labels.unionByName(roots)
    if not assume_no_self_loops:
        # nodes seen ONLY in self-loop rows never enter the rounds; recover
        # them with one selective pass over the checkpointed input
        # anti-joined against the converged node set. When the pass yields
        # nothing, AQE's empty-relation propagation elides the join.
        self_nodes = (
            e.where(F.col("u") == F.col("v"))
            .select(F.col("u").alias("node"))
            .distinct()
        )
        in_s = labels.select("node").unionByName(s.select(F.col("v").alias("node")))
        singles = self_nodes.join(in_s, "node", "left_anti").select(
            "node", F.col("node").alias("cluster_id")
        )
        out = out.unionByName(singles)
    return out


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    assume_no_self_loops: bool = False,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``(u, v).

    cluster_id = min node id of the component. Rows with a null endpoint
    are ignored; a node seen only in ``u == v`` rows is its own singleton
    cluster. Duplicate rows change nothing.

    The input plan is evaluated once, into an eager ``localCheckpoint()``
    that is counted to pick the path (module docstring); both paths read
    only that checkpoint. ``max_iter`` bounds the star path's rounds, which
    raise ``RuntimeError`` if they have not converged by then.

    ``assume_no_self_loops=True`` drops ``u == v`` rows up front, so a node
    seen ONLY in such rows is not in the output — pass it when no input row
    can have ``u == v`` (pair generators emitting ``left < right``,
    side-prefixed bipartite keys), where it saves the star path's
    self-loop pass. A caller whose edges CAN carry ``u == v`` rows (e.g.
    the incremental plan's seed edges, which encode prior singletons as
    ``(r, r)``) must leave it False or those nodes vanish from the output.
    """
    # ``!=`` is null-rejecting, so both filters drop null-endpoint rows
    keep = (
        F.col("u") != F.col("v")
        if assume_no_self_loops
        else F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    e = edges.select("u", "v").where(keep).localCheckpoint()
    if e.count() > ONE_TASK_MAX_EDGES:
        return _star_components(e, max_iter, assume_no_self_loops)
    # coalesce, not repartition: the checkpoint's partitions are read by
    # one task with no shuffle
    t = e.schema["u"].dataType
    schema = StructType([StructField("node", t), StructField("cluster_id", t)])
    return e.coalesce(1).mapInPandas(_label_one_task, schema)
