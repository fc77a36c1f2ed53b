"""Candidate-pair generation: salted hash joins with explicit skew-key split.

north_rule: "multi-key blocking ... generates candidate pairs via salted hash
joins with explicit skew-key splitting". The reference meets skew only with
per-domain politeness locks (retrieve_landing_pages.py:112-115); at 10^12-doc
scale a hot publisher/ISSN key would put an entire block in one task, so:

1. block sizes are measured (one cheap agg over the keys table),
2. keys whose pair-product exceeds ``hot_pair_threshold`` are split:
   the left side gets a deterministic salt ``pmod(xxhash64(doc_id), n_salts)``,
   the right side is replicated over all salts, and the join key becomes
   (key, salt) — same output pairs, ~n_salts× the parallelism,
3. degenerate keys whose block exceeds ``max_block_size`` members (stopword
   title-bands, mega-domains) are dropped — they carry no discriminating
   signal and would produce quadratic garbage pairs. Nothing is logged; the
   dropped and hot keys are visible through ``blocking.block_size_metrics``
   (query x8_block_skew_profile).

The final pair set is deduped across key families with a groupBy that also
records provenance (how many and which keys paired the two docs).

``delta_candidate_pairs`` is the incremental variant: given the committed
keys and a batch of NEW documents' keys, it emits only the pairs with at
least one new endpoint (new x all plus old x new) — the old x old join,
which dominates at scale, is never recomputed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import block_size_metrics

DEFAULT_N_SALTS = 8
HOT_PAIR_THRESHOLD = 1_000_000


def _exceptional_lists(
    sizes: DataFrame,
    hot_pair_threshold: int,
    max_block_size: int | None,
) -> tuple[list, list]:
    """(dropped_keys, hot_keys) from the size table.

    Only the EXCEPTIONAL keys come back to the driver — oversized (dropped)
    and hot (salted) blocks are a handful of keys even at 10^12 docs, so
    they travel as literal predicates instead of a join against the
    O(#distinct keys) size table.
    """
    cond_over = (
        F.col("block_size") > max_block_size
        if max_block_size is not None
        else F.lit(False)
    )
    cond_hot = F.col("n_left") * F.col("n_right") > hot_pair_threshold
    exceptional = sizes.where(cond_over | cond_hot).select(
        "key", cond_over.alias("oversized")
    ).collect()
    dropped_keys = [r["key"] for r in exceptional if r["oversized"]]
    hot_keys = [r["key"] for r in exceptional if not r["oversized"]]
    return dropped_keys, hot_keys


def _apply_flags(
    keys: DataFrame, dropped_keys: list, hot_keys: list
) -> DataFrame:
    """Drop oversized blocks, mark hot ones with an ``is_hot`` column."""
    k = keys
    if len(dropped_keys) + len(hot_keys) > 10_000:
        # degenerate corpus: too many exceptional keys for literal predicates;
        # fall back to broadcast joins of the key lists
        spark = keys.sparkSession
        if dropped_keys:
            ddf = spark.createDataFrame([(x,) for x in dropped_keys], "key string")
            k = k.join(F.broadcast(ddf), "key", "left_anti")
        if hot_keys:
            hdf = spark.createDataFrame([(x,) for x in hot_keys], "key string")
            k = k.join(
                F.broadcast(hdf.withColumn("is_hot", F.lit(True))), "key", "left"
            ).withColumn("is_hot", F.coalesce(F.col("is_hot"), F.lit(False)))
        else:
            # no hot keys: skip the join entirely (a placeholder row would
            # silently mark the empty-string key hot for any unprefixed
            # key family added later)
            k = k.withColumn("is_hot", F.lit(False))
    else:
        if dropped_keys:
            k = k.where(~F.col("key").isin(dropped_keys))
        is_hot = F.col("key").isin(hot_keys) if hot_keys else F.lit(False)
        k = k.withColumn("is_hot", is_hot)
    return k


def _side(k: DataFrame, side: str, alias: str) -> DataFrame:
    return k.where(F.col("side") == side).select(
        F.col("doc_id").alias(alias), "key", "is_hot"
    )


def _pair_join(
    left: DataFrame, right: DataFrame, n_salts: int, has_hot: bool
) -> DataFrame:
    """(left_id, right_id, key) rows: plain equi-join for cold keys, salted
    left + replicated right for hot keys. The hot branch (two extra scans +
    an exploded join) is only planned when hot keys actually exist."""
    cold = left.where(~F.col("is_hot")).drop("is_hot").join(
        right.where(~F.col("is_hot")).drop("is_hot"), "key", "inner"
    ).select("left_id", "right_id", "key")
    if not has_hot:
        return cold
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    hot_left = left.where(F.col("is_hot")).withColumn(
        "salt", F.pmod(F.xxhash64("left_id"), F.lit(n_salts)).cast("int")
    )
    hot_right = right.where(F.col("is_hot")).withColumn("salt", F.explode(salts))
    hot = hot_left.join(hot_right, ["key", "salt"], "inner").select(
        "left_id", "right_id", "key"
    )
    return cold.unionByName(hot)


def blocking_family_quality(keys: DataFrame, max_block_size: int | None = None) -> DataFrame:
    """Per-blocking-family quality diagnostics: which key families earn
    their cost. One row per family (the key prefix before ':'):

    - n_keys: distinct surviving keys (post oversized-block drop),
    - n_pairs: distinct candidate pairs this family emits,
    - n_exclusive_pairs: pairs found by NO other family — the family's
      unique contribution. A family whose exclusive count is ~0 is pure
      redundancy: at 10^12 docs dropping it removes a whole join leg
      (and its shuffle) without losing a single candidate. The classic ER
      blocking-evaluation pair to this is pair-completeness vs labeled
      matches — a11_match_rate_by_family covers the label-side view.

    Same measured-then-flagged chain as candidate_pairs (shared helpers),
    so the diagnostic reflects the join the engine would actually run,
    caps and salting included. Cost: the pair join once + two hash aggs on
    (pair) / (family) — no new shuffle shape beyond the join itself.
    """
    sizes = block_size_metrics(keys)
    dropped, hot = _exceptional_lists(sizes, HOT_PAIR_THRESHOLD, max_block_size)
    k = _apply_flags(keys, dropped, hot)
    pj = _pair_join(
        _side(k, "pkp", "left_id"), _side(k, "oa", "right_id"),
        DEFAULT_N_SALTS, bool(hot),
    )
    fam = F.substring_index("key", ":", 1)
    # single-pass roll-up: pair -> its family SET, exploded back with an
    # exclusivity flag — one consumer per intermediate, so nothing needs
    # persist/localCheckpoint (a cached plan here would pin executor
    # storage for the session lifetime with no handle to release it)
    per_pair = (
        pj.select(fam.alias("family"), "left_id", "right_id")
        .distinct()
        .groupBy("left_id", "right_id")
        .agg(F.collect_set("family").alias("fams"))
    )
    fam_stats = (
        per_pair.select(
            F.explode("fams").alias("family"),
            (F.size("fams") == 1).cast("long").alias("excl"),
        )
        .groupBy("family")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("excl").alias("n_exclusive"),
        )
    )
    fam_keys = k.groupBy(fam.alias("family")).agg(
        F.countDistinct("key").alias("n_keys")
    )
    # one row per key FAMILY on every side (a handful of rows even at
    # 10^12 docs) — broadcast so the roll-up never sort-merge-shuffles
    return fam_keys.join(F.broadcast(fam_stats), "family", "left").select(
        "family",
        F.col("n_keys").cast("long").alias("n_keys"),
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_exclusive", F.lit(0)).cast("long").alias(
            "n_exclusive_pairs"
        ),
    )


def _dedup_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.groupBy("left_id", "right_id").agg(
        F.min("key").alias("blocking_key"),
        F.count("*").alias("n_shared_keys"),
    )


def candidate_pairs(
    keys: DataFrame,
    n_salts: int = DEFAULT_N_SALTS,
    hot_pair_threshold: int = HOT_PAIR_THRESHOLD,
    max_block_size: int | None = None,
) -> DataFrame:
    """(left_id, right_id, blocking_key, n_shared_keys) candidate pairs.

    ``keys``: output of ``blocking.blocking_keys`` — (doc_id, side, key).
    Left = side 'pkp', right = side 'oa'; a pair is emitted once per shared
    key, then deduped.
    """
    sizes = block_size_metrics(keys)  # ONE size-measuring pass
    dropped, hot = _exceptional_lists(sizes, hot_pair_threshold, max_block_size)
    k = _apply_flags(keys, dropped, hot)
    return _dedup_pairs(
        _pair_join(
            _side(k, "pkp", "left_id"), _side(k, "oa", "right_id"),
            n_salts, bool(hot),
        )
    )


def delta_candidate_pairs(
    old_keys: DataFrame,
    new_keys: DataFrame,
    n_salts: int = DEFAULT_N_SALTS,
    hot_pair_threshold: int = HOT_PAIR_THRESHOLD,
    max_block_size: int | None = None,
) -> DataFrame:
    """Pairs with at least one NEW endpoint: new-left x all-right plus
    old-left x new-right. Caps/salting are decided over the UNION of keys
    (same drop/hot semantics as a full rebuild), but the old x old join —
    the quadratic bulk at 10^12 docs — is never re-executed. Equivalence:
    ``candidate_pairs(old + new) == candidate_pairs(old) + delta`` (tested
    pair-for-pair, including n_shared_keys provenance).

    Cap-boundary caveat: when the NEW batch pushes a block past
    ``max_block_size``, the delta correctly emits nothing for that key (it
    is oversized in the union), but previously committed old x old pairs
    blocked on it are NOT retracted by the incremental merge — a full
    rebuild would drop them. This is deliberate (retraction would mean
    re-deriving provenance for the whole old pair set, the exact cost
    incrementality avoids; past pairs also remain genuinely valid
    candidates); run a periodic full rebuild if cap-retroactivity matters.
    """
    all_keys = old_keys.unionByName(new_keys)
    sizes = block_size_metrics(all_keys)
    # caps measured ONCE over the union; the same literal lists flag all frames
    dropped, hot = _exceptional_lists(sizes, hot_pair_threshold, max_block_size)
    flagged_all = _apply_flags(all_keys, dropped, hot)
    flagged_new = _apply_flags(new_keys, dropped, hot)
    flagged_old = _apply_flags(old_keys, dropped, hot)
    new_left = _side(flagged_new, "pkp", "left_id")
    old_left = _side(flagged_old, "pkp", "left_id")
    all_right = _side(flagged_all, "oa", "right_id")
    new_right = _side(flagged_new, "oa", "right_id")
    j1 = _pair_join(new_left, all_right, n_salts, bool(hot))  # new x (old + new)
    j2 = _pair_join(old_left, new_right, n_salts, bool(hot))  # old x new only
    return _dedup_pairs(j1.unionByName(j2))
