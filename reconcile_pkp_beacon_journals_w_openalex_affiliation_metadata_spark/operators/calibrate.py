"""Distributed calibration of the pairwise-scoring logistic.

north_star: "pairwise scoring ... with a calibrated logistic threshold".
Round 2 shipped the calibration as offline-fit constants
(``scoring.DEFAULT_WEIGHTS``); this module makes the calibration itself a
Spark job so a user can re-fit on fresh labeled pairs at corpus scale:

- ``fit_calibration`` joins the scored feature frame with the labeled
  ground truth and fits an L2 logistic with ``pyspark.ml``
  (LBFGS; each iteration is one treeAggregate over the executors — no
  training data ever reaches the driver, so the fit scales with the
  labeled-pair volume, not the driver heap).
- The decision threshold is chosen by a DISTRIBUTED F1 sweep
  (``best_threshold``): probabilities are quantized to a fixed grid
  (``round(prob, GRID_DECIMALS)``), per-bin tp/fp counted with one
  groupBy, and the cumulative F1 curve is a window over <= 10^grid bins —
  bounded driver/exchange cost no matter how many pairs were scored.
- The fitted coefficients plug back into ``scoring.score_pairs(weights=,
  threshold=)`` as plan literals, so serving stays native column math.

Reference parity note: the reference fixes its decision rule offline
(check_landing_page_for_authors_and_affiliations.py applies hand-chosen
fuzz-score cutoffs); calibration-as-a-job is a north_rule extension, so it
is verified by pytest gates (F1 >= 0.99 with the *fitted* model) rather
than a DuckDB oracle — LBFGS is iterative and out of SQL's reach.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# feature name -> (column in score_pairs output, scale divisor)
FEATURES: list[tuple[str, str, float]] = [
    ("indel", "title_indel", 100.0),
    ("jw", "title_jw", 100.0),
    ("tsr", "title_tsr", 100.0),
    ("issn", "issn_exact", 1.0),
    ("domain", "domain_match", 1.0),
    ("country", "country_match", 1.0),
]


@dataclass(frozen=True)
class Calibration:
    """Fitted logistic: plug ``weights``/``threshold`` into score_pairs."""

    weights: dict[str, float]
    threshold: float
    train_f1: float
    n_train: int


def feature_frame(scored: DataFrame) -> DataFrame:
    """(left_id, right_id, f_<name>...) on the logistic's input scale."""
    cols = [
        (F.col(src).cast("double") / F.lit(div)).alias(f"f_{name}")
        for name, src, div in FEATURES
    ]
    return scored.select("left_id", "right_id", *cols)


# probabilities are swept in 10^-GRID_DECIMALS bins
GRID_DECIMALS = 4


def best_threshold(prob_labeled: DataFrame) -> tuple[float, float]:
    """F1-optimal decision threshold from (prob, label) rows, distributed.

    Quantize probs to 10^GRID_DECIMALS bins, count positives/negatives per
    bin (one shuffle over the bins only), then cumulative tp/fp from the
    top of the probability order gives F1 at every candidate cutoff. The
    window runs over <= 10^grid bins — a single small partition by
    construction, independent of input row count.
    """
    bins = prob_labeled.groupBy(
        F.round(F.col("prob"), GRID_DECIMALS).alias("p")
    ).agg(
        F.sum(F.col("label").cast("long")).alias("pos"),
        F.sum((F.lit(1) - F.col("label")).cast("long")).alias("neg"),
    )
    totals = bins.agg(F.sum("pos").alias("tp_all")).collect()[0]  # 1-row scalar
    total_pos = int(totals["tp_all"] or 0)
    w = Window.orderBy(F.col("p").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        bins.withColumn("tp", F.sum("pos").over(w))
        .withColumn("fp", F.sum("neg").over(w))
        .withColumn(
            "f1",
            F.lit(2.0)
            * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.lit(total_pos) - F.col("tp")),
        )
    )
    best = curve.orderBy(F.col("f1").desc(), F.col("p").desc()).first()
    # return the bin's LOWER EDGE, not its center: the sweep counted every
    # row that ROUNDS to p (i.e. prob >= p - 0.5*10^-grid) as positive, so
    # only the lower-edge cutoff makes serving (`prob >= threshold`) decide
    # exactly the rows the reported F1 was computed from
    return float(best["p"]) - 0.5 * 10.0 ** (-GRID_DECIMALS), float(best["f1"])


def fit_calibration(records: DataFrame, labeled: DataFrame) -> Calibration:
    """Fit the logistic on labeled pairs (L2 0.01, at most 100 LBFGS
    iterations); returns weights + F1-best threshold.

    ``records``: the extracted record table (any side mix — the ground
    truth's negative pairs are same-side, so features are computed with the
    side-agnostic ``scoring.score_record_pairs``, not the candidate join).
    ``labeled``: (left_id, right_id, is_match) ground truth.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from . import scoring

    scored = scoring.score_record_pairs(
        labeled.select("left_id", "right_id"), records
    )
    feats = feature_frame(scored)
    # persisted: the fit's LBFGS iterations, the threshold sweep, and the
    # n_train count would otherwise each re-run the similarity-UDF joins
    train = (
        labeled.join(feats, ["left_id", "right_id"], "inner")
        .withColumn("label", F.col("is_match").cast("double"))
        .persist()
    )
    feature_cols = [f"f_{name}" for name, _, _ in FEATURES]
    assembled = VectorAssembler(inputCols=feature_cols, outputCol="fv").transform(
        train
    )
    # standardization=False keeps coefficients on the serving scale so they
    # drop straight into score_pairs as literals
    lr = LogisticRegression(
        featuresCol="fv",
        labelCol="label",
        regParam=0.01,
        elasticNetParam=0.0,
        maxIter=100,
        standardization=False,
    )
    model = lr.fit(assembled)
    weights = {"bias": float(model.intercept)}
    for (name, _, _), coef in zip(FEATURES, model.coefficients):
        weights[name] = float(coef)

    # probabilities for the threshold sweep via OUR native-column logistic
    # over the fitted weights, not model.transform: (a) the threshold is
    # then chosen on the exact arithmetic the serving path uses, and (b)
    # the ml transform's codegen closure is not serializable once any
    # Observation has been registered in the session (it drags the
    # SparkSession's ObservationManager into the RDD closure)
    z = F.lit(weights["bias"])
    for name, _, _ in FEATURES:
        z = z + F.lit(weights[name]) * F.col(f"f_{name}")
    prob_labeled = train.select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("prob"), "label"
    )
    threshold, train_f1 = best_threshold(prob_labeled)
    n_train = train.count()
    train.unpersist()
    return Calibration(
        weights=weights,
        threshold=threshold,
        train_f1=train_f1,
        n_train=n_train,
    )
