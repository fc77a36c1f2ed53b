"""Deduplication operator family for the training-data pipeline.

Four near-dup strategies over a (doc_id, text) corpus (the embedding one
over (vec_id, embedding)) — each returns a DataFrame of near-dup pairs.
At 100 TB the shape that matters is: keys computed locally (map-only),
ONE shuffle per strategy (the bucket grouping), hot band keys capped.

- minhash_lsh:    shingle -> minhash -> band -> per-band pair expansion
- simhash:        64-bit simhash, pairs within hamming radius via the
                  pigeonhole block split (Manku et al., WWW'07)
- ngram_jaccard:  character n-gram Jaccard verify on LSH candidates
- embedding:      cosine near-dup over an embedding column: hyperplane
                  sign bits -> one per-bucket kernel
                  (``similarity_search.hyperplane_bucket_pairs``)

MinHash and SimHash share one equal-key pair step, :func:`_key_pairs`:
group each bucket's members into lists and expand the pairs in the JVM,
with no self-join.
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
# definition so bands and signatures can never desynchronize on
# normalization.
_WS_RUN = "[ \t\n\f\r]+"

# MinHash LSH band buckets above this size are dropped (stop-phrase shingles)
MAX_BAND_SIZE = 10_000


def _norm_ws_expr():
    """lower + trim + collapse-whitespace of ``text`` — the shared
    normalization every dedup strategy keys on (and the oracles' ``norm``
    CTE replicates)."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), _WS_RUN, " ")


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
    """Near-dup candidate pairs via MinHash LSH, each pair once as
    ``left_id < right_id``.

    Oversized band buckets (stop-phrase shingles) are dropped with the same
    cap discipline as blocking.pairs — a degenerate bucket adds quadratic
    pairs and no signal. The capped band rows then pair by
    :func:`_key_pairs`, every row counted as new."""
    return _band_pairs(minhash_band_keys(df).withColumn("_new", F.lit(True)), max_band_size)


def _band_pairs(keys: DataFrame, max_band_size: int) -> DataFrame:
    """Distinct ``(left_id, right_id)`` pairs of distinct ids sharing a band
    of ``keys``' ``(id, band, _new)`` rows, at least one of them new, over
    bands holding at most ``max_band_size`` rows.

    The cap is a count() window over the band partitioning, which the
    grouping in :func:`_key_pairs` reuses, so an over-cap band is dropped
    before any list of its ids exists. Skew: a degenerate band's rows
    still shuffle to and sort on one task before the filter drops them,
    so a band holding a large fraction of the corpus makes that task a
    spill-bound straggler; corpora known to carry mega-bands should filter
    them upstream."""
    kept = keys.withColumn("_n", F.count("*").over(Window.partitionBy("band"))).where(
        F.col("_n") <= max_band_size
    )
    a, b = F.col("a"), F.col("b")
    return (
        _key_pairs(kept, "band", F.col("id"), F.col("_new"))
        .where(a != b)
        .select(F.least(a, b).alias("left_id"), F.greatest(a, b).alias("right_id"))
        .distinct()
    )


def _key_pairs(rows: DataFrame, key: str, member, new) -> DataFrame:
    """``(a, b)`` rows, one per pair of ``rows``' ``member`` values that
    share ``key``, at least one of whose rows is ``new``: the equal-key pair
    step of every LSH family here. A full pass counts every row as new.

    One aggregation collects each key's new and old members into two lists;
    each new member then pairs with the new members after it and with every
    old one, by explodes in the JVM — so a key with no new member expands
    nothing and old x old never pairs. Each input row feeds one consumer,
    so a UDF behind ``rows`` runs once per row. A null ``member`` pairs
    with nothing; equal members do pair, so callers filter ``a != b``."""
    lists = rows.groupBy(key).agg(
        F.collect_list(F.when(new, member)).alias("n"),
        F.collect_list(F.when(~new, member)).alias("o"),
    )
    n = F.col("n")
    later = F.concat(F.slice(n, F.col("i") + 2, F.size(n)), F.col("o"))
    return lists.select(F.posexplode(n).alias("i", "a"), n, "o").select(
        "a", F.explode(later).alias("b")
    )


def delta_minhash_pairs(old_keys: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Near-dup pairs with at least one endpoint in the NEW batch.

    The training-data ingestion shape at 100 TB: dedup each crawl batch
    against the committed corpus without re-banding the corpus.
    ``old_keys`` is the committed ``minhash_band_keys`` output; only the new
    batch runs the banding UDF, and the full pass's capped band pairing
    runs over the ``_new``-tagged old + new key rows — bands with no new
    row expand nothing, and old x old never pairs. The band cap is measured
    over the UNION (same drop semantics as a full pass; a band newly pushed
    over the cap stops producing pairs, but previously emitted old x old
    pairs are retained — the same deliberate cap-boundary caveat as
    pairs.delta_candidate_pairs).

    Ids are assumed unique across old and new; an id present in both never
    pairs with itself.

    Equivalence (tested): minhash_lsh_pairs(old + new) ==
    minhash_lsh_pairs(old) ∪ delta_minhash_pairs(old_keys, new), away from
    cap boundaries.
    """
    keys = old_keys.withColumn("_new", F.lit(False)).unionByName(
        minhash_band_keys(new_docs).withColumn("_new", F.lit(True))
    )
    return _band_pairs(keys, MAX_BAND_SIZE)


def simhash_codes(df: DataFrame) -> DataFrame:
    df = spread(df)  # simhash UDF pass: same single-task-scan repair as banding
    # simhash_udf never returns null (empty text hashes to 0); the coalesce
    # declares the column non-null, so no inferred isnotnull(simhash) filter
    # can be pushed below spread()'s repartition, where it would run the
    # UDF a second time
    return df.select(
        F.col("doc_id").alias("id"),
        F.coalesce(simhash_udf(F.lower(F.col("text"))), F.lit(0)).alias("simhash"),
    )


def _simhash_block_key(max_hamming: int):
    """The pigeonhole split's block keys (see delta_simhash_pairs) as one
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


def delta_simhash_pairs(
    old_codes: DataFrame, new_docs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Hamming-radius pairs ``(left_id, right_id, hamming)``,
    ``left_id < right_id``, with >= 1 NEW endpoint.

    ``old_codes`` is a committed ``simhash_codes`` output (id, simhash):
    the corpus hashes once, and each new batch runs the simhash UDF over
    its own docs only. Over an empty ``old_codes`` this is the full pass.

    Split the 64-bit code into ``max_hamming + 1`` blocks; a pair within the
    radius has fewer differing bits than blocks, so by pigeonhole it agrees
    exactly on >= 1 block — block-equality buckets are therefore a complete
    candidate set for ANY radius (a fixed 4-block split is only complete
    for radius <= 3). The ``_new``-tagged old + new block rows pair by
    :func:`_key_pairs` (new x new and new x old, never old x old) and are
    then filtered by Hamming distance. Ids are assumed unique across old
    and new; an id present in both never pairs with itself.
    """
    bk = _simhash_block_key(max_hamming)
    rows = old_codes.select("id", "simhash", bk, F.lit(False).alias("_new")).unionByName(
        simhash_codes(new_docs).select("id", "simhash", bk, F.lit(True).alias("_new"))
    )
    a, b = F.col("a"), F.col("b")
    ham = F.bit_count(a.simhash.bitwiseXOR(b.simhash))
    return (
        _key_pairs(rows, "bk", F.struct("id", "simhash"), F.col("_new"))
        .where((a.id != b.id) & (ham <= max_hamming))
        .select(F.least(a.id, b.id).alias("left_id"), F.greatest(a.id, b.id).alias("right_id"),
                ham.alias("hamming"))
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


# declared nondeterministic only so the optimizer cannot copy it into the
# threshold filter: a filter over a deterministic projection is pushed
# below it with the alias inlined, and the UDF then runs twice per pair
_ngram_jaccard_udf = _ngram_jaccard_udf.asNondeterministic()


def _attach_ends(cand: DataFrame, per_doc: DataFrame) -> DataFrame:
    """``cand``'s ``(left_id, right_id)`` rows with ``per_doc``'s ``v``
    (one ``(id, v)`` row per document) attached to each endpoint as ``l``
    and ``r``. Both joins read the one ``per_doc`` plan, so AQE reuses its
    exchange when both joins broadcast it or both shuffle it. Only a
    broadcast of the candidate side streams ``per_doc`` twice; a caller
    whose ``per_doc`` runs a UDF hints it sort-merge to rule that out."""
    return cand.join(
        per_doc.select(F.col("id").alias("left_id"), F.col("v").alias("l")), "left_id"
    ).join(per_doc.select(F.col("id").alias("right_id"), F.col("v").alias("r")), "right_id")


def _jaccard_verify(cand: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs whose texts in ``docs`` (doc_id, text) have exact
    character-3-gram Jaccard >= threshold, as (left_id, right_id, jaccard)."""
    texts = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("v"))
    jaccard = F.round(_ngram_jaccard_udf(F.col("l"), F.col("r")), 4)
    return (
        _attach_ends(cand, texts)
        .select("left_id", "right_id", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_dedup(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """LSH candidates verified by exact character-3-gram Jaccard >= threshold.
    The classic block-then-verify shape: candidates are the only shuffle."""
    return _jaccard_verify(minhash_lsh_pairs(df), df, threshold)


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
    from ..functions.udfs import make_minhash_signature_udf

    # hinted sort-merge, so both endpoint joins read the signatures
    # through one reused exchange whichever side the planner would
    # otherwise broadcast: the signature UDF runs once per document
    sigs = spread(df).select(
        F.col("doc_id").alias("id"), make_minhash_signature_udf()(_norm_ws_expr()).alias("v")
    ).hint("merge")
    matches = F.aggregate(
        F.zip_with("l", "r", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x,
    )
    return _attach_ends(minhash_lsh_pairs(df), sigs).select(
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
    docs = old_docs.select("doc_id", "text").unionByName(new_docs.select("doc_id", "text"))
    return _jaccard_verify(delta_minhash_pairs(old_keys, new_docs), docs, threshold)


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
