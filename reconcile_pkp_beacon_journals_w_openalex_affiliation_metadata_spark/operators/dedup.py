"""Deduplication operator family for the training-data pipeline.

Five strategies over a (id, text) corpus — each returns a DataFrame of
duplicate groups or near-dup pairs. At 100 TB the shape that matters is:
keys computed locally (map-only), ONE shuffle per strategy (the groupBy,
band self-join or bucket grouping), hot band keys capped.

- exact:          hash-groupBy on the full normalized text
- minhash_lsh:    shingle -> minhash -> band -> bucket self-join
- simhash:        64-bit simhash, pairs within hamming radius via 4-way
                  block rotation (Manku et al., WWW'07 table approach)
- ngram_jaccard:  character n-gram Jaccard verify on LSH candidates
- embedding:      cosine near-dup over an embedding column: hyperplane
                  sign bits -> one per-bucket kernel
                  (``similarity_search.hyperplane_bucket_pairs``)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import NUM_PERM
from ..functions.udfs import make_minhash_bands_udf, simhash_udf
from ..partitioning import spread
from .similarity_search import hyperplane_bucket_pairs

# RE2-exact ASCII whitespace run ('\s' under RE2 is exactly [\t\n\f\r ]).
# Spelled out so Spark's Java regex engine matches the DuckDB oracles
# byte-for-byte (Java '\s' would additionally collapse \x0b); ONE shared
# definition so bands, signatures, and exact-dup keys can never
# desynchronize on normalization.
_WS_RUN = "[ \t\n\f\r]+"

# MinHash LSH band buckets above this size are dropped (stop-phrase shingles)
MAX_BAND_SIZE = 10_000


def _norm_ws_expr():
    """lower + trim + collapse-whitespace of ``text`` — the shared
    normalization every dedup strategy keys on (and the oracles' ``norm``
    CTE replicates)."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), _WS_RUN, " ")


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Groups of exact duplicates on normalized text; keeper = min id.

    Every text operator in this module reads a (doc_id, text) frame."""
    key = F.md5(_norm_ws_expr())
    return (
        df.select(F.col("doc_id").alias("id"), key.alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("id").alias("keeper"), F.count("*").alias("n_copies"),
             F.collect_list("id").alias("members"))
        .where(F.col("n_copies") > 1)
    )


def minhash_band_keys(df: DataFrame) -> DataFrame:
    """(id, band) LSH key rows, 16 bands of word 3-shingle MinHash — map-only;
    commit this once per corpus and the incremental path
    (``delta_minhash_pairs``) never re-bands old docs."""
    bands_udf = make_minhash_bands_udf()
    norm = _norm_ws_expr()
    # the banding UDF is the expensive pass; a single-row-group fixture scan
    # would otherwise run it on one core (partitioning.spread is a no-op on
    # already-parallel scans)
    df = spread(df)
    return df.select(
        F.col("doc_id").alias("id"), F.explode(bands_udf(norm)).alias("band")
    )


def minhash_lsh_pairs(df: DataFrame, max_band_size: int = MAX_BAND_SIZE) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH.

    Oversized band buckets (stop-phrase shingles) are dropped with the same
    cap discipline as blocking.pairs — a degenerate bucket adds quadratic
    pairs and no signal.

    r6 plan shape (guide §2.4 "two operations keyed the same way can share
    one exchange"): the band-size cap is a count() window over the SAME
    band partitioning the self-join needs, so the whole operator costs ONE
    shuffle of the key rows (plus the pair distinct) — the previous shape
    paid a separate groupBy shuffle for the cap, a driver broadcast of the
    oversized set, and a persist of the keys (the band exchange is
    identical on both self-join sides, so AQE reuses it and the banding
    UDF runs once without any cache). The join is hinted sort-merge: the
    window's own sort already orders each partition by band, a broadcast
    of a corpus-sized side would be wrong at scale (and measured slower
    locally — the driver round-trip), and sort-merge spills gracefully
    where a forced shuffled-hash build could OOM on a 100 TB key table.
    Skew trade, stated plainly: a degenerate band's rows now shuffle to
    and sort on ONE task before the cap filter discards them (hash
    co-location by band), where the old anti-join dropped them map-side —
    for a truly pathological band (a large fraction of the corpus under
    one stop-phrase key) that single task becomes a spill-bound straggler.
    The trade is taken deliberately: bands UNDER the cap land on one task
    in BOTH designs (the join requires co-location), the sort spills to
    disk rather than OOMing, and the alternative charges every healthy
    corpus an extra full aggregation pass + broadcast to protect only the
    degenerate case. Corpora known to carry mega-bands should pre-filter
    them upstream (or lower max_band_size so the surviving sort is small —
    the dropped rows still transit the shuffle once either way)."""
    keys = minhash_band_keys(df)
    kept = (
        keys.withColumn("_n", F.count("*").over(Window.partitionBy("band")))
        .where(F.col("_n") <= max_band_size)
        .drop("_n")
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("left_id"), F.col("b.id").alias("right_id"))
        .distinct()
    )


def delta_minhash_pairs(old_keys: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Near-dup pairs with at least one endpoint in the NEW batch.

    The training-data ingestion shape at 100 TB: dedup each crawl batch
    against the committed corpus without re-banding or re-self-joining the
    corpus. ``old_keys`` is the committed ``minhash_band_keys`` output; only
    the new batch runs the banding UDF, and the join is new x (old + new)
    — never old x old. The band cap is measured over the UNION (same drop
    semantics as a full pass; a band newly pushed over the cap stops
    producing pairs, but previously emitted old x old pairs are retained —
    the same deliberate cap-boundary caveat as pairs.delta_candidate_pairs).

    Equivalence (tested): minhash_lsh_pairs(old + new) ==
    minhash_lsh_pairs(old) ∪ delta_minhash_pairs(old_keys, new), away from
    cap boundaries.

    r6 plan shape (same cap rework as :func:`minhash_lsh_pairs`): the
    union is tagged with an ``_new`` flag and the band cap is a count()
    window over the union's single band shuffle — the separate cap
    aggregation and oversized-set broadcast are gone. UNLIKE the
    self-join case, the two join inputs here can NOT share one exchange:
    column pruning drops ``_new`` from the ``t`` side, so the two band
    exchanges differ in schema and neither static nor AQE exchange reuse
    fires (verified in the committed x13 plan dump — the banding subtree
    appears twice). ``kept_all`` is therefore persisted, exactly the r2
    multi-consumer lesson this function always carried: ``old_keys`` may
    be a LIVE banding plan (the x11/x13 queries build it inline), and
    without the cache the whole old-corpus lineage would execute once per
    join side — the cost the incremental path exists to avoid.
    """
    new_keys = minhash_band_keys(new_docs)
    all_keys = old_keys.withColumn("_new", F.lit(False)).unionByName(
        new_keys.withColumn("_new", F.lit(True))
    )
    kept_all = (
        all_keys.withColumn("_n", F.count("*").over(Window.partitionBy("band")))
        .where(F.col("_n") <= MAX_BAND_SIZE)
        .drop("_n")
        .persist()
    )
    kept_new = kept_all.where(F.col("_new"))
    n, t = kept_new.alias("n"), kept_all.alias("t")
    # new x all, both orientations, normalized to (min, max); new x new
    # appears from both sides and collapses in the distinct
    return (
        n.join(
            t.hint("merge"),
            (F.col("n.band") == F.col("t.band")) & (F.col("n.id") != F.col("t.id")),
        )
        .select(
            F.least(F.col("n.id"), F.col("t.id")).alias("left_id"),
            F.greatest(F.col("n.id"), F.col("t.id")).alias("right_id"),
        )
        .distinct()
    )


def simhash_codes(df: DataFrame) -> DataFrame:
    df = spread(df)  # simhash UDF pass: same single-task-scan repair as banding
    return df.select(
        F.col("doc_id").alias("id"),
        simhash_udf(F.lower(F.col("text"))).alias("simhash"),
    )


def _simhash_block_key(max_hamming: int):
    """The pigeonhole split's block keys (see simhash_near_pairs) as one
    exploded column ``bk``: one row per block of each code, prefixed with
    the block index so equal bits at different offsets never meet."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    n_blocks = max_hamming + 1
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def _block(i: int):
        blk = F.shiftrightunsigned("simhash", offsets[i])
        # a full-code block (radius 0) takes no mask: its literal would
        # overflow a signed 64-bit long
        if widths[i] < 64:
            blk = blk.bitwiseAND(F.lit((1 << widths[i]) - 1))
        return F.concat(F.lit(f"{i}:"), blk.cast("string"))

    return F.explode(F.array(*[_block(i) for i in range(n_blocks)])).alias("bk")


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-radius pairs: split the 64-bit code into ``max_hamming + 1``
    blocks; a pair within the radius has fewer differing bits than blocks, so
    by pigeonhole it agrees exactly on >= 1 block — block-equality buckets
    are therefore a complete candidate set for ANY radius (a fixed 4-block
    split is only complete for radius <= 3).

    One self-join over the exploded (id, simhash, bk) rows: both sides are
    the same plan, so AQE reuses the one bk exchange and the simhash UDF
    runs once, with no cache to release."""
    bk = _simhash_block_key(max_hamming)
    keyed = simhash_codes(df).select("id", "simhash", bk)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        cand.where(ham <= max_hamming)
        .select(F.col("a.id").alias("left_id"), F.col("b.id").alias("right_id"),
                ham.alias("hamming"))
        .distinct()
    )


def delta_simhash_pairs(
    old_codes: DataFrame, new_docs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Hamming-radius pairs with >= 1 NEW endpoint.

    ``old_codes`` is a committed ``simhash_codes`` output (id, simhash):
    the corpus hashes once; each new batch runs the simhash UDF over its
    own docs only, and the block join is new x (old + new) — never
    old x old. Completes the incremental-dedup family alongside
    ``delta_minhash_pairs``.
    """
    bk = _simhash_block_key(max_hamming)
    # persist: the new batch's keys feed both join sides (the union below
    # differs in plan, so no exchange reuse) — without it the simhash UDF
    # would run over the new batch twice
    keyed_new = simhash_codes(new_docs).select("id", "simhash", bk).persist()
    keyed_all = old_codes.select("id", "simhash", bk).unionByName(keyed_new)
    n, t = keyed_new.alias("n"), keyed_all.alias("t")
    cand = n.join(t, (F.col("n.bk") == F.col("t.bk")) & (F.col("n.id") != F.col("t.id")))
    ham = F.bit_count(F.col("n.simhash").bitwiseXOR(F.col("t.simhash")))
    return (
        cand.where(ham <= max_hamming)
        .select(
            F.least(F.col("n.id"), F.col("t.id")).alias("left_id"),
            F.greatest(F.col("n.id"), F.col("t.id")).alias("right_id"),
            ham.alias("hamming"),
        )
        .distinct()
    )


@F.pandas_udf(T.DoubleType())
def _ngram_jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact char-3-gram Jaccard per pair.

    r6 batch shape (guide §1.2 per-task work): candidate batches repeat the
    same document text across many pairs (every pair a doc participates in
    re-ships its text), so the trigram SET is built once per distinct text
    in the batch, and the per-pair cost is one set intersection —
    |A∪B| = |A|+|B|-|A∩B| avoids materializing the union. Bit-identical to
    jaccard(set(char_ngrams(x)), set(char_ngrams(y))): same integer counts,
    same final int/int division."""
    from ..functions.hashing import char_ngrams

    sets: dict[str, frozenset] = {}

    def grams(x: str | None) -> frozenset:
        x = x or ""
        s = sets.get(x)
        if s is None:
            s = sets[x] = frozenset(char_ngrams(x, 3))
        return s

    out = []
    for x, y in zip(a, b):
        ga, gb = grams(x), grams(y)
        if not ga and not gb:
            out.append(1.0)
            continue
        inter = len(ga & gb)
        out.append(inter / (len(ga) + len(gb) - inter))
    return pd.Series(out, index=a.index, dtype="float64")


def ngram_jaccard_dedup(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """LSH candidates verified by exact character-3-gram Jaccard >= threshold.
    The classic block-then-verify shape: candidates are the only shuffle."""
    cand = minhash_lsh_pairs(df)
    texts = df.select(F.col("doc_id").alias("id"), F.col("text").alias("txt"))
    j = (
        cand.join(texts.withColumnRenamed("id", "left_id").withColumnRenamed("txt", "lt"), "left_id")
        .join(texts.withColumnRenamed("id", "right_id").withColumnRenamed("txt", "rt"), "right_id")
        .withColumn("jaccard", F.round(_ngram_jaccard_udf(F.col("lt"), F.col("rt")), 4))
    )
    return j.where(F.col("jaccard") >= threshold).select("left_id", "right_id", "jaccard")


def minhash_jaccard_estimates(df: DataFrame) -> DataFrame:
    """LSH candidate pairs + VERIFY-FREE Jaccard estimate from signatures.

    est = (#equal signature slots) / NUM_PERM (64) — the standard MinHash
    estimator of word-shingle Jaccard (std err <= 1/16).
    At 100 TB this is the cheap middle tier between raw candidates and the
    exact n-gram verify: thresholding on the estimate costs a zip_with over
    two already-committed arrays, no text reads at all. The division by
    NUM_PERM (a power of two) is exact binary, so the DuckDB oracle is
    bit-identical.
    """
    cand = minhash_lsh_pairs(df)
    from ..functions.udfs import make_minhash_signature_udf

    sig_udf = make_minhash_signature_udf()
    # persist: the signature UDF feeds BOTH sides of the candidate join —
    # without a materialization each side re-runs it over the full corpus
    # (the same multi-consumer 2x-wall lesson as minhash_lsh_pairs)
    sigs = spread(df).select(
        F.col("doc_id").alias("id"), sig_udf(_norm_ws_expr()).alias("sig")
    ).persist()
    j = (
        cand.join(
            sigs.select(F.col("id").alias("left_id"), F.col("sig").alias("sl")),
            "left_id",
        )
        .join(
            sigs.select(F.col("id").alias("right_id"), F.col("sig").alias("sr")),
            "right_id",
        )
    )
    matches = F.aggregate(
        F.zip_with("sl", "sr", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x,
    )
    return j.select(
        "left_id", "right_id",
        (matches.cast("double") / F.lit(float(NUM_PERM))).alias("jaccard_est"),
    )


def near_dup_groups_from_edges(
    edges: DataFrame,
    members_cap: int | None = 1000,
    assume_no_self_loops: bool = False,
) -> DataFrame:
    """Cluster roll-up over an explicit near-dup edge set (u, v).

    Connected components -> per-cluster roll-up: keeper =
    min doc id (== the CC cluster_id invariant), true member count, sorted
    member list. Factored out of :func:`near_dup_groups` so the roll-up is
    testable (and reusable) independent of which blocking family produced
    the edges. ``assume_no_self_loops`` passes through to
    :func:`cluster.connected_components`; the pair-generator callers set it
    (``left_id < right_id`` by construction) so CC's large-star/small-star
    path skips its self-loop pass.
    """
    from .cluster import connected_components

    cc = connected_components(edges, assume_no_self_loops=assume_no_self_loops)
    if members_cap is None:
        member_expr = F.collect_list("node")
        grouped = cc
    else:
        w = Window.partitionBy("cluster_id").orderBy("node")
        grouped = cc.withColumn("rn", F.row_number().over(w))
        member_expr = F.collect_list(
            F.when(F.col("rn") <= members_cap, F.col("node"))
        )
    return grouped.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sort_array(member_expr).alias("members"),
    ).select(
        F.col("cluster_id").alias("keeper"),
        F.col("n_members").cast("long").alias("n_members"),
        "members",
    )


def near_dup_groups(df: DataFrame, members_cap: int | None = 1000) -> DataFrame:
    """Near-dup CLUSTERS with a canonical keeper, for inspection/reporting.

    minhash_lsh_pairs edges -> :func:`near_dup_groups_from_edges` roll-up.
    Docs in no pair are implicitly kept (absent from the output).

    ``members_cap`` (default 1000 — the scale-safe bound) limits the
    materialized member LIST per cluster to the smallest ``members_cap``
    ids, so a degenerate boilerplate cluster can never buffer an unbounded
    array on one task; ``n_members`` always reports the true size. A capped
    ``members`` list is a SAMPLE, not the drop list: a consumer deleting
    duplicates must use :func:`dedup_decisions` (one bounded row per doc,
    no arrays — the primary dedup API), never a truncated list; detect
    truncation via ``n_members != size(members)``. Pass
    ``members_cap=None`` only at oracle-scale corpora where the full list
    is wanted exactly (the t12 driver query does, to match its cap-free
    DuckDB oracle). The cap filter is a window over cluster_id — the same
    key the roll-up groups on, so it adds no extra shuffle beyond the
    group-by's own Exchange.
    """
    pairs = minhash_lsh_pairs(df)
    edges = pairs.select(F.col("left_id").alias("u"), F.col("right_id").alias("v"))
    # left_id < right_id by construction -> no u == v rows for CC to keep
    return near_dup_groups_from_edges(
        edges, members_cap=members_cap, assume_no_self_loops=True
    )


def dedup_decisions_from_edges(
    edges: DataFrame, assume_no_self_loops: bool = False
) -> DataFrame:
    """Per-doc drop decisions from an explicit near-dup edge set."""
    from .cluster import connected_components

    cc = connected_components(edges, assume_no_self_loops=assume_no_self_loops)
    return cc.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id"),
        F.col("cluster_id").alias("keeper"),
        F.lit("drop").alias("action"),
    )


def dedup_decisions(df: DataFrame) -> DataFrame:
    """The PRIMARY dedup deliverable: one row per doc to DROP, with the
    keeper it duplicates — the anti-joinable decision table a training
    pipeline consumes (``corpus.join(decisions, "doc_id", "left_anti")``).

    Derived straight from the connected-components labels (node != label =>
    drop in favour of label), never from a rolled-up member array, so every
    row is O(1) regardless of cluster size — a 10M-member boilerplate
    cluster costs 10M flat rows spread across tasks, not one 10M-element
    array on one task. Prefer this over exploding
    :func:`near_dup_groups`.members at any real corpus scale.
    """
    pairs = minhash_lsh_pairs(df)
    edges = pairs.select(F.col("left_id").alias("u"), F.col("right_id").alias("v"))
    # left_id < right_id by construction (see near_dup_groups)
    return dedup_decisions_from_edges(edges, assume_no_self_loops=True)


def delta_ngram_jaccard_pairs(
    old_keys: DataFrame,
    old_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Verified near-dup pairs with >= 1 NEW endpoint — the incremental
    block-then-verify, completing the delta family (minhash / simhash /
    candidate-join / ngram-jaccard).

    Candidates come from ``delta_minhash_pairs`` (only the new batch runs
    the banding UDF; ``old_keys`` is the committed ``minhash_band_keys``
    table; old x old is never joined), and the exact character-3-gram
    Jaccard verify then reads text for CANDIDATE rows only — at 100 TB the
    verify cost is O(delta candidates), not O(corpus). Old texts are
    touched exclusively through the candidate join (columnar scan of id +
    text, pushed down). Equivalence: ``ngram_jaccard_dedup(old + new)``
    restricted to new-endpoint pairs == this, away from cap boundaries
    (same caveat as the other deltas).
    """
    cand = delta_minhash_pairs(old_keys, new_docs)
    texts = (
        old_docs.select(F.col("doc_id").alias("id"), F.col("text").alias("txt"))
        .unionByName(
            new_docs.select(F.col("doc_id").alias("id"), F.col("text").alias("txt"))
        )
    )
    j = (
        cand.join(
            texts.withColumnRenamed("id", "left_id").withColumnRenamed("txt", "lt"),
            "left_id",
        )
        .join(
            texts.withColumnRenamed("id", "right_id").withColumnRenamed("txt", "rt"),
            "right_id",
        )
        .withColumn("jaccard", F.round(_ngram_jaccard_udf(F.col("lt"), F.col("rt")), 4))
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "left_id", "right_id", "jaccard"
    )


def embedding_bucket_keys(df: DataFrame, dim: int) -> DataFrame:
    """(id, v, bucket) hyperplane-LSH rows over a (vec_id, embedding)
    frame, 8 seeded hyperplanes — the committable representation
    for the embedding near-dup family (the full and delta passes both key on
    it, so a corpus bucketed once is never re-bucketed for a new batch).

    ``dim`` is an explicit parameter: probing it with a driver-side
    ``first()`` action from inside an operator would trigger a hidden job
    on every call (and the array element count is not in the schema).

    The sign bits run through the Arrow-batched
    ``make_hyperplane_bucket_udf`` pass (one crossing per batch, the same
    left-to-right fold order as the interpreted ``aggregate(zip_with(...))``
    HOF — bit-identical buckets). A null vector keeps its row, with bucket
    ''; a vector whose length is not ``dim`` fails the query."""
    import numpy as np

    from ..functions.udfs import make_hyperplane_bucket_udf

    planes = np.random.RandomState(7).randn(8, dim).tolist()
    # fail fast on a dim/vector mismatch: sign bits against a wrong-length
    # vector would silently collapse buckets and turn the near-linear
    # bucket pass into an O(n^2) one. The check rides inside the value
    # column so column pruning cannot drop it; a null vector passes
    # (size(NULL) is NULL, which would otherwise raise a NULL message).
    v = F.col("embedding")
    checked_vec = F.when(v.isNull() | (F.size(v) == dim), v).otherwise(
        F.raise_error(
            F.concat(F.lit(f"embedding length != dim={dim}: "),
                     F.size(v).cast("string"))
        )
    )
    # the batched pass costs O(planes x dim) per row: spread the scan
    # before paying it
    return spread(df).select(
        F.col("vec_id").alias("id"), checked_vec.alias("v"),
        make_hyperplane_bucket_udf(planes)(v).alias("bucket"),
    )


def embedding_near_dup_pairs(df: DataFrame, dim: int, threshold: float = 0.95) -> DataFrame:
    """Cosine near-dups via random-hyperplane LSH buckets + exact verify:
    ``(left_id, right_id, cos_sim)`` with ``cos_sim = round(cosine, 6)``
    ``>= threshold``. Brute force is O(n^2); bucketing keeps it near-linear
    for tight thresholds (near-dup vectors almost always share all sign
    bits). All pairs of a bucket are scored by one per-bucket kernel
    (``similarity_search.hyperplane_bucket_pairs``). Null vectors pair with
    nothing."""
    keyed = embedding_bucket_keys(df, dim)
    return hyperplane_bucket_pairs(keyed, decimals=6, threshold=threshold)


def delta_embedding_near_dup(
    old_keys: DataFrame,
    new_vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs with >= 1 NEW endpoint — the 5th and last
    dedup family's incremental variant. ``old_keys`` is a committed
    ``embedding_bucket_keys`` output: the corpus is bucketed once; each new
    batch computes only its own sign bits, and the per-bucket kernel scores
    old + new rows but emits only pairs touching a new one — old x old is
    never scored. Same hyperplanes (seed) as the full pass, so old and new
    buckets are directly comparable; ids are unique across old + new (an
    id is immutable once committed), and the result equals the full pass
    restricted to pairs with a new endpoint.
    """
    new_keys = embedding_bucket_keys(new_vectors, dim)
    keyed = old_keys.select("id", "v", "bucket", F.lit(False).alias("_new")).unionByName(
        new_keys.withColumn("_new", F.lit(True))
    )
    return hyperplane_bucket_pairs(keyed, decimals=6, threshold=threshold, new_col="_new")
