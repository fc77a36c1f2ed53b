"""Benchmark body: one workload, one process, ``local[CORES]``.

Run it through ``run.py``, which sets the process environment. The harness
generates the workload's inputs from ``--seed`` with ``synth.generate`` (and
numpy for vectors and planted texts), writes them as parquet, and hands the
engine only those files. Labels stay on the driver for the output checks.

A run: start the session, set the inputs up ``SETUP_REPS`` times, build
what the workload needs once (a committed catalog), warm up, then repeat
the workload as often as fits in ``--seconds`` (at least once) and report
medians. Every repetition is checked; a repetition that raises or fails a
check counts in ``failed``.

``--trace 1`` interleaves untraced and traced repetitions: the traced one
calls each layer's public function inside a ``layers.Tracer`` span and
reports the per-layer counters; the gap between the two walls is the
tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from layers import COUNTERS, Tracer

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import synth
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
    batch_kernels,
    hashing,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.operators import (
    blocking,
    cluster,
    dedup,
    extract,
    pairs,
    scoring,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.incremental import (
    incremental_reconcile,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.plans.reconcile import (
    reconcile,
)
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import get_spark
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.sources.catalog import (
    Catalog,
)

# closed loop: one client, one job at a time, on local[nproc]
CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3
LAYERS = (
    "extract", "blocking", "pairs", "scoring", "cluster",
    "incremental", "catalog", "dedup.minhash", "dedup.embedding",
)
# per-layer extras the traced repetition fills in, with their units
EXTRAS = {
    "blocking.keys_per_record": "ratio", "pairs.pairs_per_record": "ratio",
    "pairs.dropped_keys": "count", "pairs.hot_keys": "count",
    "scoring.match_ratio": "ratio", "cluster.edges_in": "count",
}
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


class CheckFailed(Exception):
    """An output of the engine disagrees with the benchmark's reference."""


def _write(path: str, table: pa.Table, n_files: int = CORES) -> None:
    """Parquet in ``n_files`` slices: the scan starts one task per core."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def _materialize(df) -> None:
    """Run ``df`` to completion with no extra shuffle (builds its cache)."""
    df.write.format("noop").mode("overwrite").save()


def _union_find(edges) -> dict[str, str]:
    """node -> smallest node id of its component, on the driver."""
    parent: dict[str, str] = {}

    def root(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = root(u), root(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: root(x) for x in parent}


def _quality(predicted: set, truth: set) -> tuple[float, float]:
    hit = len(predicted & truth)
    return hit / max(len(truth), 1), hit / max(len(predicted), 1)


def _truth(corpus) -> set:
    return {(p["left_id"], p["right_id"]) for p in corpus.labeled_pairs if p["is_match"]}


def _matches(scored) -> set:
    return {
        (r[0], r[1])
        for r in scored.where(F.col("is_match_pred")).select("left_id", "right_id").collect()
    }


@dataclass
class Rep:
    """One repetition: its wall, the documents and pairs it processed, and
    the quality of its matches."""

    wall: float
    docs: int
    pairs: int
    recall: float
    precision: float


class Workload:
    """Inputs from a seed, one repetition, and its checks."""

    # floors for match_recall / match_precision, set below the first baseline
    recall_floor = 0.0
    precision_floor = 0.0
    # discarded repetitions before timing
    warm_ups = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def prepare(self) -> None:
        """Generate and write the inputs (repeated; must be idempotent)."""
        raise NotImplementedError

    def build(self) -> None:
        """One-off set-up that depends on the engine (a committed catalog)."""

    def run(self, tracer: Tracer | None) -> Rep:
        raise NotImplementedError

    def check_quality(self, rep: Rep) -> None:
        if rep.recall < self.recall_floor or rep.precision < self.precision_floor:
            raise CheckFailed(
                f"recall {rep.recall:.4f} / precision {rep.precision:.4f} under the "
                f"floors {self.recall_floor} / {self.precision_floor}"
            )


class _TimedCatalog(Catalog):
    """The engine's catalog with every storage call in a ``catalog`` span."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self._tracer = tracer

    def write_committed(self, *a, **kw):
        with self._tracer.span("catalog"):
            return super().write_committed(*a, **kw)

    def append_committed(self, *a, **kw):
        with self._tracer.span("catalog"):
            return super().append_committed(*a, **kw)

    def read_committed(self, *a, **kw):
        with self._tracer.span("catalog"):
            return super().read_committed(*a, **kw)


class ReconcileFold(Workload):
    """A full ``plans.reconcile.reconcile`` run from documents to collected
    clusters, then ``plans.incremental.incremental_reconcile`` folding one
    decile of the corpus into a committed catalog of the other nine. The
    fold must reproduce the full run's clusters exactly.

    The catalog is built once: a full run over 80% of the documents and an
    earlier fold of 10%. That set-up runs every plan a repetition runs, so
    it is also the warm-up.

    The block cap drops every publisher-domain block, so few pairs reach
    scoring: the wall is mostly per-stage plan overhead and the
    connected-components rounds, in the full run and in the fold's seeded
    CC alike."""

    warm_ups = 0
    n_journals = 3000
    # a block that straddles the cap (under it before a fold, over it
    # after) is dropped by the full run while the fold keeps its committed
    # pairs, so the two would differ by design. At 3,000 journals every
    # domain block holds 370+ documents in the 80% base and every other
    # block fewer than 150 in the whole corpus.
    max_block_size = 300
    hot_pair_threshold = 1_000_000
    recall_floor = 0.95
    precision_floor = 0.97

    def prepare(self) -> None:
        corpus = synth.generate(seed=self.seed, n_journals=self.n_journals)
        self.truth = _truth(corpus)
        self.n_docs = len(corpus.documents)
        # decile 0 is the timed fold, decile 1 the earlier one
        decile = [zlib.crc32(d["doc_id"].encode()) % 10 for d in corpus.documents]
        self.n_new = decile.count(0)
        self.paths = {}
        for name, keep in (("all", range(10)), ("base", range(2, 10)), ("earlier", (1,)), ("new", (0,))):
            rows = [d for d, k in zip(corpus.documents, decile) if k in keep]
            self.paths[name] = os.path.join(self.work, name)
            _write(self.paths[name], pa.Table.from_pylist(rows, schema=DOC_SCHEMA))
        self.untraced_clusters = None

    def build(self) -> None:
        self.catalog = os.path.join(self.work, "catalog")
        shutil.rmtree(self.catalog, ignore_errors=True)
        cat = Catalog(self.catalog)
        res = self._reconcile(self.spark.read.parquet(self.paths["base"]))
        for name, df in (
            ("records", res.records), ("blocking_keys", res.keys),
            ("candidate_pairs", res.candidate_pairs), ("scored", res.scored),
            ("clusters", res.clusters),
        ):
            cat.write_committed(df, name)
        res.unpersist()
        incremental_reconcile(
            cat, self.spark, self.spark.read.parquet(self.paths["earlier"]),
            max_block_size=self.max_block_size, hot_pair_threshold=self.hot_pair_threshold,
        )
        self._n = 0

    def _reconcile(self, docs):
        return reconcile(
            docs, max_block_size=self.max_block_size, hot_pair_threshold=self.hot_pair_threshold
        )

    def run(self, tracer: Tracer | None) -> Rep:
        full = self._full(tracer)
        fold_wall, n_delta = self._fold(tracer)
        _log(f"full run {full.wall:.3f}s, fold {fold_wall:.3f}s")
        return Rep(
            full.wall + fold_wall, full.docs + self.n_new, full.pairs + n_delta,
            full.recall, full.precision,
        )

    def _full(self, tracer: Tracer | None) -> Rep:
        docs = self.spark.read.parquet(self.paths["all"])
        t0 = time.perf_counter()
        if tracer is None:
            res = self._reconcile(docs)
            rows = res.clusters.collect()
            wall = time.perf_counter() - t0
            records, keys, cand, scored = res.records, res.keys, res.candidate_pairs, res.scored
        else:
            records, keys, cand, scored, rows = self._traced(tracer, docs)
            wall = time.perf_counter() - t0
        clusters = {r["node"]: r["cluster_id"] for r in rows}
        matches = _matches(scored)
        n_pairs = cand.count()
        if tracer is not None:
            self._extras(tracer, records, keys, n_pairs, matches)
            tracer.totals["cluster"]["rows_out"] += len(rows)
        for df in (records, keys, cand, scored):
            df.unpersist()
        # the clusters must be the connected components of the matched edges
        if clusters != _union_find(matches):
            raise CheckFailed("clusters differ from a union-find over the matched edges")
        if tracer is None:
            self.untraced_clusters = clusters
        elif self.untraced_clusters is not None and clusters != self.untraced_clusters:
            raise CheckFailed("traced layers produced other clusters than reconcile()")
        self.full_clusters = clusters
        return Rep(wall, self.n_docs, n_pairs, *_quality(matches, self.truth))

    def _traced(self, tracer: Tracer, docs):
        """The layers of ``plans.reconcile.reconcile``, in its order, with
        its arguments and persists, one span each."""
        with tracer.span("extract"):
            records = extract.extract_records(docs).persist()
            _materialize(records)
        with tracer.span("blocking"):
            keys = blocking.blocking_keys(records).persist()
            _materialize(keys)
        with tracer.span("pairs"):
            cand = pairs.candidate_pairs(
                keys, n_salts=pairs.DEFAULT_N_SALTS, hot_pair_threshold=self.hot_pair_threshold,
                max_block_size=self.max_block_size,
            ).persist()
            _materialize(cand)
        with tracer.span("scoring"):
            scored = scoring.score_pairs(cand, records).persist()
            _materialize(scored)
        with tracer.span("cluster"):
            rows = cluster.connected_components(
                scoring.matched_edges(scored), assume_no_self_loops=True
            ).collect()
        return records, keys, cand, scored, rows

    def _extras(self, tracer: Tracer, records, keys, n_pairs: int, matches: set) -> None:
        n_rec, n_keys = records.count(), keys.count()
        # the caps of pairs.candidate_pairs applied to the public size table
        over = F.col("block_size") > self.max_block_size
        hot = ~over & (F.col("n_left") * F.col("n_right") > self.hot_pair_threshold)
        caps = blocking.block_size_metrics(keys).agg(
            F.count_if(over).alias("dropped"), F.count_if(hot).alias("hot")
        ).collect()[0]
        t = tracer.totals
        t["extract"]["rows_out"] += n_rec
        t["blocking"]["rows_out"] += n_keys
        t["pairs"]["rows_out"] += n_pairs
        t["scoring"]["rows_out"] += n_pairs
        tracer.extras.update({
            "blocking.keys_per_record": n_keys / n_rec,
            "pairs.pairs_per_record": n_pairs / n_rec,
            "pairs.dropped_keys": caps["dropped"],
            "pairs.hot_keys": caps["hot"],
            "scoring.match_ratio": len(matches) / max(n_pairs, 1),
            "cluster.edges_in": len(matches),
        })

    def _fold(self, tracer: Tracer | None) -> tuple[float, int]:
        # a fresh copy of the committed catalog for every fold (untimed)
        self._n += 1
        root = os.path.join(self.work, f"catalog-{self._n}")
        shutil.copytree(self.catalog, root)
        cat = Catalog(root) if tracer is None else _TimedCatalog(root, tracer)
        new_docs = self.spark.read.parquet(self.paths["new"])
        t0 = time.perf_counter()
        with tracer.span("incremental") if tracer else contextlib.nullcontext():
            res = incremental_reconcile(
                cat, self.spark, new_docs, max_block_size=self.max_block_size,
                hot_pair_threshold=self.hot_pair_threshold,
            )
        wall = time.perf_counter() - t0
        got = {r["node"]: r["cluster_id"] for r in res.clusters.collect()}
        if tracer is not None:
            tracer.totals["incremental"]["rows_out"] += len(got)
        shutil.rmtree(root)
        if res.n_new_records != self.n_new:
            raise CheckFailed(f"folded {res.n_new_records} new documents, expected {self.n_new}")
        if got != self.full_clusters:
            raise CheckFailed(
                f"folded clusters ({len(got)} nodes) differ from the full run's "
                f"({len(self.full_clusters)} nodes)"
            )
        return wall, res.n_delta_pairs


class NearDup(Workload):
    """Both ``operators.dedup`` families: MinHash LSH over seeded texts with
    planted near-copy clusters, and hyperplane LSH over seeded vectors with
    planted near-copies. match_recall / match_precision are over the planted
    pairs of both.

    The texts are word sequences over the vocabulary of a ``synth`` corpus:
    unique texts, plus clusters whose members are copies of one text with a
    single word replaced each. The number of near-duplicate pairs is then
    fixed by the sizes below, whatever the seed. (``synth``'s own document
    text shares boilerplate between records, so the MinHash candidates it
    yields per document vary by up to 30% between seeds.)"""

    n_journals = 500  # vocabulary source only
    n_unique = 4000
    n_clusters = 400
    cluster_size = 16
    n_words = 30
    n_vectors = 8000
    n_planted = 800
    dim = 64
    recall_floor = 0.95
    precision_floor = 0.95
    # the second repetition is still about 20% slower than the third
    warm_ups = 2

    def prepare(self) -> None:
        rng = np.random.RandomState(self.seed)
        self.paths = {"texts": os.path.join(self.work, "texts")}
        texts, self.text_truth = self._texts(rng)
        self.n_texts = len(texts)
        _write(self.paths["texts"], pa.table({"doc_id": list(texts), "text": list(texts.values())}))
        base = rng.standard_normal((self.n_vectors, self.dim))
        src = rng.choice(self.n_vectors, self.n_planted, replace=False)
        copies = base[src] + 0.01 * rng.standard_normal((self.n_planted, self.dim))
        vecs = np.vstack([base, copies])
        ids = [f"v{i:06d}" for i in range(self.n_vectors)] + [f"w{i:06d}" for i in range(self.n_planted)]
        self.planted = {(f"v{s:06d}", f"w{i:06d}") for i, s in enumerate(src)}
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs.size + 1, self.dim, dtype=np.int32)), pa.array(vecs.ravel())
        )
        self.paths["vectors"] = os.path.join(self.work, "vectors")
        _write(self.paths["vectors"], pa.table({"vec_id": ids, "embedding": emb}))

    def _texts(self, rng) -> tuple[dict[str, str], set]:
        """doc id -> text in a seeded order, and the planted pairs (smaller
        id first, as minhash emits them)."""
        corpus = synth.generate(seed=self.seed, n_journals=self.n_journals)
        vocab = sorted({
            w.lower() for d in corpus.documents for s in d["spans"] if s["kind"] == "text"
            for w in s["text"].split()
        })
        words = lambda n: [vocab[i] for i in rng.randint(len(vocab), size=n)]  # noqa: E731
        n_docs = self.n_unique + self.n_clusters * self.cluster_size
        ids = [f"t{i:06d}" for i in rng.permutation(n_docs)]
        texts = {ids[i]: " ".join(words(self.n_words)) for i in range(self.n_unique)}
        truth = set()
        for c in range(self.n_clusters):
            base = words(self.n_words)
            first = self.n_unique + c * self.cluster_size
            members = ids[first:first + self.cluster_size]
            for m in members:
                copy = list(base)
                copy[rng.randint(self.n_words)] = words(1)[0]
                texts[m] = " ".join(copy)
            truth |= {(a, b) for a in members for b in members if a < b}
        return dict(sorted(texts.items())), truth

    def run(self, tracer: Tracer | None) -> Rep:
        texts = self.spark.read.parquet(self.paths["texts"])
        vecs = self.spark.read.parquet(self.paths["vectors"])
        t0 = time.perf_counter()
        with tracer.span("dedup.minhash") if tracer else contextlib.nullcontext():
            mh = dedup.minhash_lsh_pairs(texts).persist()
            _materialize(mh)
        t1 = time.perf_counter()
        with tracer.span("dedup.embedding") if tracer else contextlib.nullcontext():
            emb = dedup.embedding_near_dup_pairs(vecs, dim=self.dim).collect()
        wall = time.perf_counter() - t0
        mh_found = {(r["left_id"], r["right_id"]) for r in mh.collect()}
        mh.unpersist()
        emb_found = {(r["left_id"], r["right_id"]) for r in emb}
        _log(
            f"minhash {t1 - t0:.3f}s ({len(mh_found)} pairs), "
            f"embedding {wall - (t1 - t0):.3f}s ({len(emb_found)} pairs)"
        )
        if tracer is not None:
            tracer.totals["dedup.minhash"]["rows_out"] += len(mh_found)
            tracer.totals["dedup.embedding"]["rows_out"] += len(emb_found)
        for name, found, truth in (
            ("minhash", mh_found, self.text_truth), ("embedding", emb_found, self.planted),
        ):
            recall, precision = _quality(found, truth)
            if recall < self.recall_floor or precision < self.precision_floor:
                raise CheckFailed(
                    f"{name}: recall {recall:.4f} / precision {precision:.4f} of "
                    f"{len(truth)} planted pairs"
                )
        return Rep(
            wall, self.n_texts + self.n_vectors + self.n_planted, len(mh_found) + len(emb_found),
            *_quality(mh_found | emb_found, self.text_truth | self.planted),
        )


WORKLOADS = {
    "reconcile_fold": ReconcileFold,
    "near_dup": NearDup,
}


def kernel_rates(seed: int, seconds: float = 0.5) -> dict[str, float]:
    """L0 kernel throughput outside Spark on a seeded title sample."""
    corpus = synth.generate(seed=seed, n_journals=2000)
    titles = [
        s["text"][len("TITLE: "):].lower()
        for d in corpus.documents for s in d["spans"] if s["text"].startswith("TITLE: ")
    ]
    rng = random.Random(seed)
    a = [rng.choice(titles) for _ in range(10_000)]
    b = [rng.choice(titles) for _ in range(10_000)]
    tokens = [hashing.shingles(t, 3) for t in titles]
    out = {}
    for name, fn, n in (
        ("kernels.sim_triple.pairs_per_s", lambda: batch_kernels.sim_triple_batch(a, b), len(a)),
        ("kernels.minhash_bands.docs_per_s", lambda: hashing.minhash_bands_batch(tokens), len(tokens)),
    ):
        fn()
        rates = []
        t_end = time.perf_counter() + seconds
        while len(rates) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            fn()
            rates.append(n / (time.perf_counter() - t0))
        out[name] = statistics.median(rates)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver Python plus the Spark JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return py + hwm / 1024.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cores=CORES, shuffle_partitions=2 * CORES,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    session_s = time.perf_counter() - t0
    try:
        return _bench(spark, args, session_s)
    finally:
        _stop(spark)


def _bench(spark, args, session_s: float) -> int:
    wl = WORKLOADS[args.workload](spark, args.seed, args.work)
    prep = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.build()
    setup_s = session_s + statistics.median(prep) + (time.perf_counter() - t0)
    _log(f"session {session_s:.3f}s, inputs {prep}, setup_s {setup_s:.3f}")

    attempted = failed = 0
    errors: list[str] = []
    reps: list[Rep] = []
    traced: list[tuple[Rep, Tracer]] = []

    def attempt(tracer: Tracer | None) -> Rep | None:
        nonlocal attempted, failed
        attempted += 1
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            rep = wl.run(tracer)
            if tracer is not None:
                tracer.finish()
            wl.check_quality(rep)
        except Exception as e:  # noqa: BLE001 -- a failed repetition is counted, not fatal
            failed += 1
            errors.append(f"{type(e).__name__}: {e}")
            return None
        _log(f"{'traced' if tracer else 'untraced'} {time.perf_counter() - t0:.3f}s with checks")
        return rep

    for _ in range(wl.warm_ups):
        # JIT, Python workers, codegen caches: checked and counted like any
        # repetition, but its wall is discarded
        attempt(None)
    start = time.perf_counter()
    ticks = _cpu_ticks()
    rounds = 0
    # at least one round; after that, only rounds that the mean round so far
    # says will end within --seconds
    while not failed and (
        not rounds or (time.perf_counter() - start) * (rounds + 1) / rounds <= args.seconds
    ):
        rounds += 1
        rep = attempt(None)
        if rep is not None:
            reps.append(rep)
        if args.trace and not failed:
            tracer = Tracer(spark)
            rep = attempt(tracer)
            if rep is not None:
                traced.append((rep, tracer))
    if ticks:
        # a VM's CPU time taken by its host: the usual cause of a slow run
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        _log(f"{rounds} timed rounds, CPU steal {steal / max(total, 1):.1%}")

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    correct = failed == 0
    if args.trace:
        metrics = _layer_metrics(traced, reps, args.seed, spark) if correct else {}
    else:
        metrics = _e2e_metrics(reps, setup_s) if correct else {}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks from ``/proc/stat``; None where it is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return ticks[7], sum(ticks)


def _e2e_metrics(reps: list[Rep], setup_s: float) -> dict:
    med = lambda xs: statistics.median(xs)  # noqa: E731
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": med([r.wall for r in reps]), "unit": "s"},
        "docs_per_s": {"value": med([r.docs / r.wall for r in reps]), "unit": "1/s"},
        "pairs_per_s": {"value": med([r.pairs / r.wall for r in reps]), "unit": "1/s"},
        "match_recall": {"value": med([r.recall for r in reps]), "unit": "ratio"},
        "match_precision": {"value": med([r.precision for r in reps]), "unit": "ratio"},
    }


UNITS = {
    "wall_s": "s", "task_busy_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "rows_out": "count",
}


def _layer_metrics(traced, reps, seed: int, spark) -> dict:
    out = {}
    for layer in LAYERS:
        for c in COUNTERS:
            vals = [tr.totals[layer][c] if layer in tr.totals else 0 for _, tr in traced]
            out[f"{layer}.{c}"] = {"value": statistics.median(vals), "unit": UNITS.get(c, "count")}
    for name, unit in EXTRAS.items():
        vals = [tr.extras.get(name, 0) for _, tr in traced]
        out[name] = {"value": statistics.median(vals), "unit": unit}
    out["catalog.bytes_written"] = {
        "value": statistics.median([tr.totals["catalog"]["output_bytes"] for _, tr in traced]),
        "unit": "bytes",
    }
    for name, v in kernel_rates(seed).items():
        out[name] = {"value": v, "unit": "1/s"}
    out["process.peak_rss_mb"] = {"value": peak_rss_mb(spark), "unit": "MB"}
    traced_wall = statistics.median([r.wall for r, _ in traced])
    out["trace.overhead_s"] = {
        "value": traced_wall - statistics.median([r.wall for r in reps]), "unit": "s",
    }
    # share of the traced wall the layer spans account for
    out["trace.span_share"] = {
        "value": statistics.median(
            [sum(t["wall_s"] for t in tr.totals.values()) / r.wall for r, tr in traced]
        ),
        "unit": "ratio",
    }
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
