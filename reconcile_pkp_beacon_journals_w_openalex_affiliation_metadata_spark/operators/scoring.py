"""Pairwise scoring: vectorized similarity features + calibrated threshold.

north_rule: "pairwise scoring runs batched Jaro-Winkler + token-set-ratio +
domain/country agreement features inside vectorized pandas/Arrow UDFs (no
per-row Python) with a calibrated logistic threshold."

The InDel ratio keeps parity with the reference's fuzz.ratio
(check_landing_page...py:163-164); JW/token-set/domain/country are the
north_rule feature extensions. The logistic weights below were calibrated
offline on the seeded labeled corpus (synth.py) and stored as constants —
pure column math, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import sim_features_udf

# calibrated logistic coefficients (offline fit on synth labeled pairs, seed 42);
# operators/calibrate.py re-fits these distributed (pyspark.ml LBFGS) and its
# output plugs into score_pairs(weights=..., threshold=...) unchanged
W_BIAS = -14.0
W_INDEL = 8.0      # on score/100
W_JW = 3.0
W_TSR = 3.0
W_ISSN = 6.0
W_DOMAIN = 1.5
W_COUNTRY = 0.5
DECISION_THRESHOLD = 0.5

DEFAULT_WEIGHTS: dict[str, float] = {
    "bias": W_BIAS,
    "indel": W_INDEL,
    "jw": W_JW,
    "tsr": W_TSR,
    "issn": W_ISSN,
    "domain": W_DOMAIN,
    "country": W_COUNTRY,
}


def _side(records: DataFrame, side: str, prefix: str) -> DataFrame:
    # only the columns the features touch: the records side is broadcast in
    # the scoring join, so every extra column is broadcast-build time
    cols = ["doc_id", "norm_title", "norm_issn", "domain", "country"]
    return records.where(F.col("side") == side).select(
        *[F.col(c).alias(f"{prefix}{c}") for c in cols]
    )


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Attach features + matched decision to candidate pairs.

    ``weights``/``threshold`` default to the shipped constants; pass a
    ``calibrate.Calibration``'s fields to serve a freshly fitted model —
    either way the logistic stays pure native column math (the coefficients
    are plan literals, nothing Python-side at serve time).

    Plan shape at scale: pairs (huge) shuffle-hash-joins records (smaller) on
    doc_id twice; similarity UDFs run on the joined batches (Arrow); the
    logistic is native column math. No driver-side loops.
    """
    l = _side(records, "pkp", "l_")
    r = _side(records, "oa", "r_")
    return _attach_features(pairs, l, r, weights, threshold)


def score_record_pairs(pairs: DataFrame, records: DataFrame) -> DataFrame:
    """Side-agnostic scorer for arbitrary (left_id, right_id) pairs.

    Same features and shipped-constant logistic as ``score_pairs``, but
    both sides resolve by doc_id against the full records table — used to
    score labeled ground truth (which includes same-side negative pairs)
    for calibration, and any ad-hoc pair list a user brings.
    """
    cols = ["doc_id", "norm_title", "norm_issn", "domain", "country"]
    l = records.select(*[F.col(c).alias(f"l_{c}") for c in cols])
    r = records.select(*[F.col(c).alias(f"r_{c}") for c in cols])
    return _attach_features(pairs, l, r, None, None)


def _attach_features(
    pairs: DataFrame,
    l: DataFrame,
    r: DataFrame,
    weights: dict[str, float] | None,
    threshold: float | None,
) -> DataFrame:
    df = (
        pairs.join(l, pairs.left_id == l.l_doc_id, "inner")
        .join(r, pairs.right_id == r.r_doc_id, "inner")
        .drop("l_doc_id", "r_doc_id")
    )
    lt = F.coalesce(F.col("l_norm_title"), F.lit(""))
    rt = F.coalesce(F.col("r_norm_title"), F.lit(""))
    # one Arrow crossing computes all three similarity features
    df = df.withColumn("_sim", sim_features_udf(lt, rt))
    df = df.withColumns(
        {
            "title_indel": F.round(F.col("_sim.indel"), 2),
            "title_jw": F.round(F.col("_sim.jw"), 2),
            "title_tsr": F.round(F.col("_sim.tsr"), 2),
            # null-safe: a null on either side must yield FALSE, not SQL NULL
            # (NULL would propagate through the logistic and void the row)
            "issn_exact": (
                F.col("l_norm_issn").isNotNull()
                & F.col("l_norm_issn").eqNullSafe(F.col("r_norm_issn"))
            ),
            "domain_match": (
                F.col("l_domain").isNotNull()
                & F.col("l_domain").eqNullSafe(F.col("r_domain"))
            ),
            "country_match": (
                F.col("l_country").isNotNull()
                & F.col("l_country").eqNullSafe(F.col("r_country"))
            ),
        }
    )
    w = {**DEFAULT_WEIGHTS, **(weights or {})}
    thr = DECISION_THRESHOLD if threshold is None else threshold
    z = (
        F.lit(w["bias"])
        + F.lit(w["indel"]) * F.col("title_indel") / 100.0
        + F.lit(w["jw"]) * F.col("title_jw") / 100.0
        + F.lit(w["tsr"]) * F.col("title_tsr") / 100.0
        + F.lit(w["issn"]) * F.col("issn_exact").cast("double")
        + F.lit(w["domain"]) * F.col("domain_match").cast("double")
        + F.lit(w["country"]) * F.col("country_match").cast("double")
    )
    df = df.drop("_sim").withColumn(
        "match_prob", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    )
    return df.withColumn(
        "is_match_pred",
        F.col("issn_exact") | (F.col("match_prob") >= F.lit(thr)),
    )


def matched_edges(scored: DataFrame) -> DataFrame:
    """Edge list for clustering: matched pairs only, as (u, v)."""
    return scored.where(F.col("is_match_pred")).select(
        F.col("left_id").alias("u"), F.col("right_id").alias("v")
    )
