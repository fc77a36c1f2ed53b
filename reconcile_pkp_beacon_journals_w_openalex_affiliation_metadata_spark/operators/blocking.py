"""Multi-key blocking (north_rule): normalized-ISSN exact keys, tokenized
journal-title MinHash bands, publisher-domain keys.

Generalizes the reference's blocking ideas — DOI as an equi-block key
(check_landing_page...py:70-74) and the (scheme,host,port) URL key semi-join
(main.rs:239-243) — to three key families that survive 10^12-doc scale:
every key is computed locally (no shuffle), the only shuffle is the candidate
pair join in ``pairs.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import make_minhash_bands_udf

MINHASH_BANDS = 16
MINHASH_SHINGLE_K = 3
CHAR_NGRAM_K = 4
# char family: FEWER, WIDER bands (8x8 vs the word family's 16x4). Char
# 4-gram Jaccard between *different* titles drawn from a shared vocabulary is
# high (reordered words keep most 4-grams), so 4-row bands collide at ~1%
# pairwise - which is quadratic pair volume at corpus scale (measured 24x
# candidate blow-up at 583k records). 8-row bands drop unrelated collisions
# below measurement (0/400) while keeping union typo recall at 97% on the
# blocking-recall property test.
MINHASH_CHAR_BANDS = 8


def blocking_keys(records: DataFrame) -> DataFrame:
    """(doc_id, side, key) — one row per (document, blocking key).

    Key families are namespaced ('issn:', 'domain:', 'band:', 'cband:') so
    collisions across families are impossible.
    """
    issn = records.where(F.col("norm_issn").isNotNull()).select(
        "doc_id", "side", F.concat(F.lit("issn:"), F.col("norm_issn")).alias("key")
    )
    domain = records.where(F.col("domain").isNotNull() & (F.col("domain") != "")).select(
        "doc_id", "side", F.concat(F.lit("domain:"), F.col("domain")).alias("key")
    )
    titled = records.where(
        F.col("norm_title").isNotNull() & (F.col("norm_title") != "")
    )
    # word-shingle LSH: catches token-level edits (reorder, add/drop word)
    bands_udf = make_minhash_bands_udf(bands=MINHASH_BANDS, shingle_k=MINHASH_SHINGLE_K)
    band = titled.select(
        "doc_id", "side", F.explode(bands_udf(F.col("norm_title"))).alias("band")
    ).select("doc_id", "side", F.concat(F.lit("band:"), F.col("band")).alias("key"))
    # char-4-gram LSH: catches letter-level typos, which flip k whole
    # word-shingles at once and make the word family miss (~20% of
    # indel>=90 pairs in the recall property test without this family)
    cbands_udf = make_minhash_bands_udf(
        bands=MINHASH_CHAR_BANDS, shingle_k=CHAR_NGRAM_K, seed=137, tokenizer="char"
    )
    cband = titled.select(
        "doc_id", "side", F.explode(cbands_udf(F.col("norm_title"))).alias("band")
    ).select("doc_id", "side", F.concat(F.lit("cband:"), F.col("band")).alias("key"))
    return issn.unionByName(domain).unionByName(band).unionByName(cband)


def block_size_metrics(keys: DataFrame) -> DataFrame:
    """Per-key block sizes — fed to the lineage table and to the skew splitter
    (the audit-counter discipline of main.rs:86-144 applied to blocking)."""
    return keys.groupBy("key").agg(
        F.count("*").alias("block_size"),
        F.sum(F.when(F.col("side") == "pkp", 1).otherwise(0)).alias("n_left"),
        F.sum(F.when(F.col("side") == "oa", 1).otherwise(0)).alias("n_right"),
    )
