"""The flagship end-to-end plan: documents -> clusters.

Mirrors the reference pipeline order (compare_openalex/README.md:3-20)
re-expressed Spark-first, as one ordered stage table:

    documents (interleaved spans, input_hint)
      -> records          extract_records (order-preserving span ops + ascii-fold UDF)
      -> blocking_keys    ISSN exact | title minhash bands | domain
      -> candidate_pairs  salted hash join, skew split, dedup
      -> scored           vectorized similarity + calibrated logistic
      -> clusters         matched_edges -> connected_components

``flagship_stages`` builds the table; each entry is a build function over
the outputs of the stages before it. ``run_stages`` runs it through a
``materialize(name, build) -> DataFrame`` callback that decides what each
stage output becomes:

- ``reconcile`` persists every stage a later stage reads and leaves the
  last one lazy;
- ``jobs/reconcile_job.py`` commits each stage through the catalog
  (``sources.catalog.run_stage``) so a rerun resumes from the last commit;
- the legacy benches (``bench.py``, ``tools/bench_scaling.py``) use
  ``timed``: persist, count and record the wall per stage.

The incremental plan (``plans/incremental.py``) has its own delta stages.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame

from ..operators import blocking, cluster, extract, pairs, scoring
from ..operators.pairs import HOT_PAIR_THRESHOLD

if TYPE_CHECKING:
    from ..operators.calibrate import Calibration

Build = Callable[[dict], DataFrame]
Materialize = Callable[[str, Callable[[], DataFrame]], DataFrame]


def flagship_stages(
    documents: DataFrame,
    n_salts: int = pairs.DEFAULT_N_SALTS,
    hot_pair_threshold: int = HOT_PAIR_THRESHOLD,
    max_block_size: int | None = None,
    calibrate: Callable[[DataFrame], Calibration] | None = None,
) -> list[tuple[str, Build]]:
    """The five flagship stages in run order, as (name, build(done)) pairs;
    ``done`` maps the names of the stages already run to their outputs.

    ``calibrate(records)``, when given, runs inside the ``scored`` build on
    the materialized records; the weights and threshold it fits replace the
    shipped constants."""

    def score(done):
        cal = calibrate(done["records"]) if calibrate else None
        return scoring.score_pairs(
            done["candidate_pairs"], done["records"],
            weights=cal.weights if cal else None,
            threshold=cal.threshold if cal else None,
        )

    return [
        ("records", lambda done: extract.extract_records(documents)),
        ("blocking_keys", lambda done: blocking.blocking_keys(done["records"])),
        ("candidate_pairs", lambda done: pairs.candidate_pairs(
            done["blocking_keys"],
            n_salts=n_salts,
            hot_pair_threshold=hot_pair_threshold,
            max_block_size=max_block_size,
        )),
        ("scored", score),
        # matched edges are pkp-side x oa-side ids — u == v impossible, so
        # CC's roll-up skips the self-loop recovery pass over the input
        ("clusters", lambda done: cluster.connected_components(
            scoring.matched_edges(done["scored"]), assume_no_self_loops=True
        )),
    ]


def run_stages(
    stages: list[tuple[str, Build]],
    materialize: Materialize,
    until: str = "clusters",
) -> dict[str, DataFrame]:
    """Run ``stages`` in order up to and including ``until``; each output is
    whatever ``materialize(name, build)`` returns for it."""
    done: dict[str, DataFrame] = {}
    for name, build in stages:
        done[name] = materialize(name, functools.partial(build, done))
        if name == until:
            break
    return done


def timed(walls: dict[str, float]) -> Materialize:
    """Materializer for the stage split of the benches: persist and count
    each stage, and record its wall (seconds) in ``walls``."""

    def materialize(name, build):
        t0 = time.perf_counter()
        df = build().persist()
        df.count()
        walls[name] = time.perf_counter() - t0
        return df

    return materialize


@dataclass
class ReconcileResult:
    records: DataFrame
    keys: DataFrame
    candidate_pairs: DataFrame
    scored: DataFrame
    clusters: DataFrame

    def unpersist(self) -> None:
        """Release every cache the plan took (records/keys/candidates, and
        scored when clustering persisted it). Call after the consumer has
        materialized or committed what it needs — cached plans otherwise
        pin executor storage for the session lifetime (guide §5:
        "unpersist when done"). Blocking=False: eager eviction is not worth
        stalling the driver."""
        for df in (self.records, self.keys, self.candidate_pairs, self.scored):
            if df is not None:
                df.unpersist()


def reconcile(
    documents: DataFrame,
    hot_pair_threshold: int = HOT_PAIR_THRESHOLD,
    max_block_size: int | None = None,
    with_clusters: bool = True,
) -> ReconcileResult:
    last = "clusters" if with_clusters else "scored"

    def materialize(name, build):
        # records feeds blocking and both sides of the scoring join, keys the
        # size measurement and the pair join, scored every CC pass: persist
        # each stage a later one reads so its DAG runs once (a committed
        # catalog table in production); the last stage stays lazy
        df = build()
        return df if name == last else df.persist()

    out = run_stages(
        flagship_stages(
            documents, hot_pair_threshold=hot_pair_threshold, max_block_size=max_block_size
        ),
        materialize,
        until=last,
    )
    return ReconcileResult(
        out["records"], out["blocking_keys"], out["candidate_pairs"],
        out["scored"], out.get("clusters"),
    )
