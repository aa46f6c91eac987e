"""ML pipeline surface (SURVEY.md §2.14).

The reference trains 4 Spark-ML binary classifiers over the matchup
features and evaluates AUC + confusion-matrix metrics
(reference code/experiment.py:581-852). Its evaluation runs SIX jobs
over the predictions (1 evaluator + 4 filtered counts + 1 display
groupBy, code/experiment.py:642-680; SURVEY.md §3.3) plus separate
baseline counts (793-823). Here every model is evaluated by one
relational aggregate, ``evaluate_binary_df``: confusion cells,
accuracy/precision/recall/F1, a tie-aware rank-sum AUC and the
majority/coin-flip/weighted baselines in one row.
``evaluate_model`` scores a fitted pipeline on ``rawPrediction[1]``,
the value MLlib's areaUnderROC evaluator ranks, so its AUC is the
reference's.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    RandomForestClassifier,
)
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F


def assemble_features(
    feature_cols: list[str], output_col: str = "features"
) -> VectorAssembler:
    """Numeric columns → vector, skipping invalid rows
    (reference code/experiment.py:581-619)."""
    return VectorAssembler(
        inputCols=feature_cols, outputCol=output_col, handleInvalid="skip"
    )


def classifier(kind: str, label_col: str = "label", seed: int = 42):
    """The reference's four model configs (code/experiment.py:697-785)."""
    if kind == "rf":
        return RandomForestClassifier(
            labelCol=label_col, numTrees=200, maxDepth=10, seed=seed
        )
    if kind == "lr":
        return LogisticRegression(
            labelCol=label_col, maxIter=100, regParam=0.01, elasticNetParam=0.8,
            family="binomial",
        )
    if kind == "gbt":
        return GBTClassifier(labelCol=label_col, maxIter=100, maxDepth=8, seed=seed)
    if kind == "mlp":
        raise ValueError(
            "mlp requires layer sizes; use mlp_classifier(n_features)"
        )
    raise ValueError(f"unknown classifier kind {kind!r}")


def mlp_classifier(n_features: int, label_col: str = "label", seed: int = 42):
    """MLP with the reference's hidden topology [in, 64, 32, 2]
    (code/experiment.py:767-785)."""
    return MultilayerPerceptronClassifier(
        labelCol=label_col,
        layers=[n_features, 64, 32, 2],
        maxIter=100,
        blockSize=128,
        seed=seed,
    )


def train_pipeline(
    train: DataFrame, feature_cols: list[str], kind: str, label_col: str = "label"
):
    stages = [assemble_features(feature_cols)]
    if kind == "mlp":
        stages.append(mlp_classifier(len(feature_cols), label_col))
    else:
        stages.append(classifier(kind, label_col))
    return Pipeline(stages=stages).fit(train)


def evaluate_binary_df(
    predictions: DataFrame,
    label_col: str = "label",
    prediction_col: str = "prediction",
    score_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """The reference's entire evaluation surface (confusion matrix +
    accuracy/precision/recall/F1, reference code/experiment.py:617-688;
    AUC, 636-642; majority/coin-flip/weighted baselines, 793-823) as
    ONE aggregation returning a 1-row DataFrame, vs the reference's six
    jobs + driver math (SURVEY.md §3.3). Metrics are rounded to
    ``round_dp``.

    AUC uses the tie-aware Mann-Whitney rank-sum identity
    ``AUC = (R_pos - npos(npos+1)/2) / (npos * nneg)`` with midranks
    (``RANK() + (ties-1)/2``) — exactly equal to the trapezoidal
    areaUnderROC over the score curve, and, unlike the curve
    integration, expressible in any SQL engine with identical
    floating-point behavior (ranks and midrank sums are exact
    integer-or-half doubles; the single final division is IEEE-
    identical across engines, then rounded to ``round_dp``).

    F1 uses the single-division identity ``2tp / (2tp + fp + fn)``
    (algebraically equal to ``2PR/(P+R)``) so no intermediate rounding
    can drift between engines.

    Scale note: the midrank needs one total sort of the scored test
    set (un-partitioned window). Test sets are the small split by
    construction; for AUC over billions of rows, bin scores to fixed
    buckets first and apply the same rank-sum on (bucket, count)
    aggregates.
    """
    return _binary_eval(
        predictions,
        group_cols=[],
        label_col=label_col,
        prediction_col=prediction_col,
        score_col=score_col,
        round_dp=round_dp,
        include_baselines=True,
    )


def evaluate_model(model, test: DataFrame) -> Row:
    """Score ``test`` with a fitted pipeline and collect its
    ``evaluate_binary_df`` row. The AUC ranks ``rawPrediction[1]``, the
    score MLlib's areaUnderROC evaluator reads; ranking
    ``probability[1]`` instead changes the AUC of gbt and mlp, whose
    saturated probabilities tie."""
    scored = model.transform(test).select(
        "label", "prediction", vector_to_array("rawPrediction")[1].alias("score")
    )
    return evaluate_binary_df(scored, score_col="score").first()


def _binary_eval(
    predictions: DataFrame,
    group_cols: list[str],
    label_col: str,
    prediction_col: str,
    score_col: str | None,
    round_dp: int,
    include_baselines: bool,
) -> DataFrame:
    """ONE definition of the distributed evaluation surface, shared by
    the ungrouped (evaluate_binary_df, with baselines) and per-group
    (evaluate_binary_grouped) forms — the metric expressions, midrank
    window, and confusion cells exist exactly once, so the two public
    shapes can never drift apart. Grouping only changes
    the aggregation keys and the midrank window partitioning."""
    lbl, prd = F.col(label_col), F.col(prediction_col)
    df = predictions
    aggs = [
        F.count(F.lit(1)).alias("n_test"),
        F.count(F.when(lbl == 1, 1)).alias("_npos"),
        F.count(F.when((prd == 1) & (lbl == 1), 1)).alias("tp"),
        F.count(F.when((prd == 0) & (lbl == 0), 1)).alias("tn"),
        F.count(F.when((prd == 1) & (lbl == 0), 1)).alias("fp"),
        F.count(F.when((prd == 0) & (lbl == 1), 1)).alias("fn"),
    ]
    if score_col is not None:
        midrank = (
            F.rank().over(Window.partitionBy(*group_cols).orderBy(score_col))
            + (
                F.count(F.lit(1)).over(
                    Window.partitionBy(*group_cols, score_col)
                )
                - F.lit(1)
            )
            / F.lit(2.0)
        )
        df = df.withColumn("_midrank", midrank)
        aggs.append(
            F.sum(F.when(lbl == 1, F.col("_midrank"))).alias("_pos_ranksum")
        )
    cells = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)

    n = F.col("n_test")
    npos, tp, tn, fp, fn = (
        F.col("_npos"), F.col("tp"), F.col("tn"), F.col("fp"), F.col("fn")
    )
    nneg = n - npos
    rnd = lambda c: F.round(c, round_dp)  # noqa: E731
    metrics = [
        *[F.col(g) for g in group_cols],
        n.alias("n_test"),
        tp.alias("tp"), tn.alias("tn"), fp.alias("fp"), fn.alias("fn"),
        rnd((tp + tn) / n).alias("accuracy"),
        F.when(tp + fp == 0, F.lit(0.0))
        .otherwise(rnd(tp / (tp + fp))).alias("precision"),
        F.when(tp + fn == 0, F.lit(0.0))
        .otherwise(rnd(tp / (tp + fn))).alias("recall"),
        F.when(2 * tp + fp + fn == 0, F.lit(0.0))
        .otherwise(rnd(2 * tp / (2 * tp + fp + fn))).alias("f1"),
    ]
    if include_baselines:
        metrics.extend(
            [
                rnd(F.greatest(npos, nneg) / n).alias("baseline_majority"),
                F.lit(0.5).alias("baseline_coin"),
                rnd((npos / n) * (npos / n) + (nneg / n) * (nneg / n)).alias(
                    "baseline_weighted"
                ),
            ]
        )
    if score_col is not None:
        metrics.append(
            F.when((npos == 0) | (npos == n), F.lit(0.5))
            .otherwise(
                rnd(
                    (F.col("_pos_ranksum") - npos * (npos + 1) / F.lit(2.0))
                    / (npos * nneg)
                )
            )
            .alias("auc")
        )
    return cells.select(*metrics)


def baselines(test: DataFrame, label_col: str = "label") -> dict[str, float]:
    """Majority-class / coin-flip / weighted-random accuracies from one
    class-balance aggregate (reference code/experiment.py:793-823)."""
    row = test.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(label_col) == 1, 1)).alias("pos"),
    ).first()
    return baselines_from_counts(row["n"], row["pos"])


def baselines_from_counts(n: int, pos: int) -> dict[str, float]:
    """``baselines`` from an already-collected class balance: ``n``
    test rows, ``pos`` of them positive."""
    if not n:
        return {"majority": 0.0, "coin_flip": 0.5, "weighted_random": 0.0}
    p = pos / n
    return {
        "majority": max(p, 1 - p),
        "coin_flip": 0.5,
        "weighted_random": p * p + (1 - p) * (1 - p),
    }


def feature_importances_topk(model, feature_cols: list[str], k: int = 10):
    """Top-k (importance, name) pairs from a fitted tree ensemble
    (reference code/experiment.py:39-54)."""
    imp = model.stages[-1].featureImportances.toArray()
    ranked = sorted(zip(imp, feature_cols), reverse=True)
    return ranked[:k]


def evaluate_binary_grouped(
    predictions: DataFrame,
    group_col: str,
    label_col: str = "label",
    prediction_col: str = "prediction",
    score_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Per-GROUP twin of ``evaluate_binary_df`` — one row of the full
    evaluation surface per value of ``group_col`` (cross-validation
    folds, per-segment/per-language model monitoring), still a single
    aggregation job: the confusion cells group by the key, and the
    midrank windows partition by it, so every fold's tie-aware
    rank-sum AUC computes in the same pass. Same fp discipline as the
    ungrouped twin (integer cells, one division per metric, round at
    the end); the baseline_* columns are class-balance properties of
    the whole set, so they stay on the ungrouped form only."""
    return _binary_eval(
        predictions,
        group_cols=[group_col],
        label_col=label_col,
        prediction_col=prediction_col,
        score_col=score_col,
        round_dp=round_dp,
        include_baselines=False,
    )
