"""Incremental reconcile: new documents arrive, only delta work runs.

At 10^12 documents a daily batch of new records cannot trigger a full
rebuild — the old x old candidate join dominates everything and its result
is already committed. This plan recomputes exactly the delta:

- extract + blocking keys for the NEW documents only (map-only),
- candidate pairs with at least one new endpoint
  (``pairs.delta_candidate_pairs`` — new x all plus old x new; caps/salts
  decided over the union so semantics match a full rebuild),
- scoring for the delta pairs only,
- connected components SEEDED with the previous assignment: the committed
  (node, cluster_id) rows are a star forest that already encodes the old
  transitive closure, so CC runs over [old stars + delta matched edges] —
  same fixpoint as CC over all edges. Below ``cluster.ONE_TASK_MAX_EDGES``
  that edge set is labelled in one task (4-5 Spark jobs); above it, in
  O(log n) large-star/small-star rounds on a far smaller edge set than a
  rebuild's.

The delta is computed under the committed run's own definition: the
block cap and the scoring weights/threshold a full run recorded in its
``scored`` table's marker meta (``jobs/reconcile_job.py`` writes them) are
the ones the fold applies, and a caller cap that contradicts the recorded
one is an error. A ``scored`` table committed without that meta is folded
with the caller's cap and the shipped scoring constants.

Every stage commits through the catalog, so the incremental run is itself
resumable; the merged tables it publishes are byte-compatible with a full
rebuild (equivalence is pytest-gated in tests/test_incremental.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blocking, cluster, extract, pairs, scoring
from ..sources.catalog import Catalog


@dataclass
class IncrementalResult:
    n_new_records: int
    n_delta_pairs: int
    n_delta_matches: int
    scored: DataFrame  # read back from the committed catalog
    clusters: DataFrame


def incremental_reconcile(
    cat: Catalog,
    spark: SparkSession,
    new_documents: DataFrame,
    n_salts: int = pairs.DEFAULT_N_SALTS,
    hot_pair_threshold: int = pairs.HOT_PAIR_THRESHOLD,
    max_block_size: int | None = None,
) -> IncrementalResult:
    """Fold ``new_documents`` into the committed reconcile state.

    Requires committed ``records``, ``blocking_keys``, ``scored`` and
    ``clusters`` tables (a prior full run); publishes updated versions of
    all four plus ``candidate_pairs``. ``max_block_size=None`` takes the
    cap recorded with the committed ``scored`` table; a different cap
    raises ``ValueError``.
    """
    # retire ORPHANED batches from a crashed prior run first: records
    # appends LAST, so any batch id present in a downstream table but
    # absent from records never completed — and a replay may arrive with a
    # DIFFERENT batch composition (hence a different batch id), so the
    # batch-replace idempotence alone would leave the orphan's rows behind
    # "committed to records" = live batch OR one compact() already folded
    # into records' base: compacting records must not make fully-committed
    # downstream batches look orphaned (they would be retired = data loss)
    rec_batches = set(cat.list_batches("records")) | set(
        cat.compacted_batches("records")
    )
    for t in ("blocking_keys", "candidate_pairs", "scored"):
        for b in cat.list_batches(t):
            if b not in rec_batches:
                cat.drop_batch(t, b)
        # a compact() run between the crash and this replay would have
        # FOLDED the orphaned batch into the table's base — its rows can
        # no longer be retired, and re-appending the batch (possibly under
        # a different id for a different composition) would double-count.
        # Fail loudly instead of silently duplicating; the repair is a
        # full rebuild of the affected table. compact()'s docstring tells
        # operators to run a replay (which retires orphans) first.
        folded_orphans = [
            b for b in cat.compacted_batches(t) if b not in rec_batches
        ]
        if folded_orphans:
            raise RuntimeError(
                f"table {t!r}: batch(es) {folded_orphans} were compacted "
                "into the base but never committed to 'records' — a "
                "compact() ran over an orphaned (crashed) batch, which is "
                "unretirable; rebuild the table before resuming "
                "incremental ingestion"
            )

    old_records = cat.read_committed(spark, "records")
    old_keys = cat.read_committed(spark, "blocking_keys")
    old_scored = cat.read_committed(spark, "scored")
    old_clusters = cat.read_committed(spark, "clusters")
    old_pairs = cat.read_committed(spark, "candidate_pairs")
    if any(t is None for t in (old_records, old_keys, old_scored, old_clusters)):
        raise ValueError(
            "incremental_reconcile needs a committed full run "
            "(records/blocking_keys/scored/clusters)"
        )
    recorded = cat.meta("scored")
    if "max_block_size" in recorded:
        if max_block_size is not None and max_block_size != recorded["max_block_size"]:
            raise ValueError(
                f"max_block_size={max_block_size} differs from the committed "
                f"run's {recorded['max_block_size']}: a fold must apply the "
                "cap the committed tables were built with"
            )
        max_block_size = recorded["max_block_size"]

    # truly-new docs only (rerun safety: an already-processed doc is a no-op).
    # Every delta frame is localCheckpoint-ed (eager), NOT persist-ed: the
    # republish below rewrites the very tables these plans read, and both
    # the CacheManager (canonicalized-plan match) and refreshByPath would
    # otherwise serve or recompute stale/post-rewrite data. A checkpoint
    # cuts the lineage — the materialized rows stay valid whatever happens
    # to the source paths. Extraction reads the batch itself, so extract's
    # partition probe (partitioning.spread) sees a scan and runs no job;
    # the anti-join against committed ids then runs once, on the records.
    new_records = (
        extract.extract_records(new_documents)
        .join(old_records.select(F.col("doc_id")).distinct(), "doc_id", "left_anti")
        .localCheckpoint()
    )
    new_keys = blocking.blocking_keys(new_records).localCheckpoint()
    new_ids = new_records.select("doc_id").distinct()

    # crash-replay hygiene: "records" is published LAST (see below), so a
    # replay can observe PARTIALLY republished tables — scrub any rows the
    # earlier attempt already merged for this batch's docs before merging
    # again, making every merge idempotent
    old_keys_eff = old_keys.join(new_ids, "doc_id", "left_anti")

    # deterministic batch id: replays derive the SAME id, so the catalog's
    # batch-replace append makes every publish idempotent
    stats = new_records.agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    n_new = int(stats["n"])
    if n_new == 0:
        # nothing new (or a fully published batch replayed — records is the
        # LAST table appended, so its presence implies all others landed)
        return IncrementalResult(
            n_new_records=0, n_delta_pairs=0, n_delta_matches=0,
            scored=cat.read_committed(spark, "scored"),
            clusters=cat.read_committed(spark, "clusters"),
        )
    import hashlib

    batch_id = hashlib.md5(
        f"{n_new}:{stats['lo']}:{stats['hi']}".encode()
    ).hexdigest()[:12]

    delta_pairs = pairs.delta_candidate_pairs(
        old_keys_eff, new_keys,
        n_salts=n_salts,
        hot_pair_threshold=hot_pair_threshold,
        max_block_size=max_block_size,
    ).localCheckpoint()

    all_records = old_records.unionByName(new_records)
    delta_scored = scoring.score_pairs(
        delta_pairs, all_records,
        weights=recorded.get("weights"), threshold=recorded.get("threshold"),
    ).localCheckpoint()

    # seeded CC: previous assignment as star edges + the delta's matches
    seed_edges = old_clusters.select(
        F.col("node").alias("u"), F.col("cluster_id").alias("v")
    )
    edges = seed_edges.unionByName(scoring.matched_edges(delta_scored))
    # pinned like every other delta frame: the clusters rewrite below
    # deletes the very files the seed scan reads (and refreshByPath drops
    # any cached plan over them), and CC's internal checkpoints don't pin
    # the seed scan
    clusters = cluster.connected_components(edges).localCheckpoint()

    n_delta = delta_pairs.count()
    n_matches = delta_scored.where(F.col("is_match_pred")).count()

    # publish with O(batch) APPENDS (batch-replace idempotent), not
    # O(table) union-rewrites — the whole point of the incremental path.
    # Only clusters (global result) is rewritten. ORDER MATTERS: "records"
    # appends LAST because it is the anti-join source deciding whether a
    # replayed batch is "new" — a crash anywhere earlier leaves the batch
    # looking unprocessed and the replay re-appends the same batch ids
    # harmlessly; appending records first would make the replay a silent
    # no-op with the downstream tables missing the batch.
    cat.append_committed(new_keys, "blocking_keys", batch_id)
    if old_pairs is not None:
        cat.append_committed(delta_pairs, "candidate_pairs", batch_id)
    cat.append_committed(delta_scored, "scored", batch_id)
    cat.write_committed(clusters, "clusters")
    cat.append_committed(new_records, "records", batch_id)
    return IncrementalResult(
        n_new_records=n_new,
        n_delta_pairs=n_delta,
        n_delta_matches=n_matches,
        scored=cat.read_committed(spark, "scored"),
        clusters=cat.read_committed(spark, "clusters"),
    )
