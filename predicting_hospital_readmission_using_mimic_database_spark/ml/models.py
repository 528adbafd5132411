"""Estimators M3-M11 (SURVEY.md §2.9) — MLlib pipelines + DataFrame-native
feature scoring.

Reference shapes: RF(n_estimators=300) fit/predict_proba (py:471-476),
the numTrees sweep (py:608-618), L1 logistic regression + GridSearchCV
accuracy/5-fold (py:796-801), mutual-information ranking (py:633-636),
chi² scoring (py:638-639), top-n retrain loop (py:645-658), decision
function (py:844).

Scale posture: model fitting is MLlib's distributed tree/LBFGS machinery;
feature scoring (MI, chi²) is expressed as plain aggregations over
(feature, bin, label) contingency tables — one shuffle, broadcast
marginals, no collect — so it runs at any cardinality MLlib's selectors
would choke on.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# M3/M4 — random forest + probability prediction
# ---------------------------------------------------------------------------


def train_rf(
    train: DataFrame,
    features: str = "features",
    label: str = "label",
    num_trees: int = 300,
    seed: int = 42,
    max_depth: int = 5,
):
    """M3 — ``RandomForestClassifier(n_estimators=300)`` (py:471-472)."""
    from pyspark.ml.classification import RandomForestClassifier

    rf = RandomForestClassifier(
        featuresCol=features, labelCol=label, numTrees=num_trees, seed=seed,
        maxDepth=max_depth,
    )
    return rf.fit(train)


def predict_proba(model, df: DataFrame, out: str = "p1") -> DataFrame:
    """M4 — ``predict_proba(X)[:,1]`` (py:475-476): P(class=1) column."""
    from pyspark.ml.functions import vector_to_array

    return model.transform(df).withColumn(
        out, vector_to_array(F.col("probability")).getItem(1)
    )


def decision_scores(model, df: DataFrame, out: str = "margin") -> DataFrame:
    """M11 — ``decision_function`` parity (py:844): raw margin column."""
    from pyspark.ml.functions import vector_to_array

    return model.transform(df).withColumn(
        out, vector_to_array(F.col("rawPrediction")).getItem(1)
    )


# ---------------------------------------------------------------------------
# M5/M7 — sweeps and grid-search CV
# ---------------------------------------------------------------------------


def rf_numtrees_sweep(
    train: DataFrame,
    test: DataFrame,
    num_trees_grid: Sequence[int],
    features: str = "features",
    label: str = "label",
    seed: int = 42,
    parallelism: int = 4,
) -> DataFrame:
    """M5 — the numTrees loop (py:608-618) with held-out AUC per setting.

    The training set should be ``.cache()``d by the caller before the sweep
    (SURVEY §4.2 — the one real physical decision); each fit is a
    distributed MLlib job. Fits are submitted from a driver-side thread
    pool (the same scheme MLlib's CrossValidator ``parallelism`` uses):
    concurrent jobs let the scheduler fill executor gaps — grid points are
    independent, so ordering is irrelevant and results are seed-stable.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    def one(n: int) -> tuple[int, float]:
        ev = BinaryClassificationEvaluator(labelCol=label, metricName="areaUnderROC")
        m = train_rf(train, features, label, num_trees=n, seed=seed)
        return (int(n), float(ev.evaluate(m.transform(test))))

    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as ex:
        rows = list(ex.map(one, num_trees_grid))
    return train.sparkSession.createDataFrame(rows, "num_trees int, auc double")


def train_lr_l1(
    train: DataFrame,
    C: float = 1.0,
    features: str = "features",
    label: str = "label",
    max_iter: int = 50,
):
    """M6 — sklearn ``LogisticRegression(penalty='l1', C)`` ==
    ``elasticNetParam=1.0, regParam=1/C`` (inverse reg strength)."""
    from pyspark.ml.classification import LogisticRegression

    return LogisticRegression(
        featuresCol=features, labelCol=label,
        elasticNetParam=1.0, regParam=1.0 / C, maxIter=max_iter,
    ).fit(train)


def grid_search_lr_cv(
    train: DataFrame,
    Cs: Sequence[float],
    features: str = "features",
    label: str = "label",
    folds: int = 5,
    seed: int = 42,
    parallelism: int = 4,
):
    """M7 — ``GridSearchCV(lr, {'C': [...]}, scoring='accuracy', cv=5)``
    (py:796-801) as ``CrossValidator(numFolds=5)`` fitting folds
    concurrently. Returns (cv_model, results_df with avg accuracy per C).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    lr = LogisticRegression(
        featuresCol=features, labelCol=label, elasticNetParam=1.0, maxIter=50
    )
    grid = ParamGridBuilder().addGrid(lr.regParam, [1.0 / c for c in Cs]).build()
    ev = MulticlassClassificationEvaluator(labelCol=label, metricName="accuracy")
    cv = CrossValidator(
        estimator=lr, estimatorParamMaps=grid, evaluator=ev,
        numFolds=folds, seed=seed, parallelism=parallelism,
    )
    model = cv.fit(train)
    rows = [
        (float(c), float(a)) for c, a in zip(Cs, model.avgMetrics, strict=True)
    ]
    res = train.sparkSession.createDataFrame(rows, "C double, accuracy double")
    return model, res


# ---------------------------------------------------------------------------
# M8/M9 — feature scoring over contingency aggregates (DataFrame-native)
# ---------------------------------------------------------------------------


def _feature_label_counts(df: DataFrame, cols: Sequence[str], label: str) -> DataFrame:
    """(feature, bin, label) counts in ONE pass: explode the feature list
    per row (map-side), then a single hash aggregation."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("feature"),
                    F.col(c).cast("string").alias("bin"),
                )
                for c in cols
            ]
        )
    ).alias("fx")
    return (
        df.select(pairs, F.col(label).cast("string").alias("y"))
        .select("fx.feature", "fx.bin", "y")
        .groupBy("feature", "bin", "y")
        .agg(F.count("*").alias("n"))
    )


def mutual_information(df: DataFrame, cols: Sequence[str], label: str) -> DataFrame:
    """M8 — discrete mutual information per feature (py:633-636).

    MI(X;Y) = Σ_xy (n_xy/n) ln(n_xy·n / (n_x·n_y)) over the contingency
    counts. The discrete estimator (SURVEY §7 hard-part 4): sklearn's
    kNN-based variant is not reproducible cross-engine; this one is exact
    and SQL-expressible. Marginals are broadcast — feature cardinality is
    bins × #features, never rows.
    """
    c = _feature_label_counts(df, cols, label)
    bx = c.groupBy("feature", "bin").agg(F.sum("n").alias("n_bin"))
    ly = c.groupBy("feature", "y").agg(F.sum("n").alias("n_y"))
    tot = c.groupBy("feature").agg(F.sum("n").alias("n_tot"))
    j = (
        c.join(F.broadcast(bx), ["feature", "bin"])
        .join(F.broadcast(ly), ["feature", "y"])
        .join(F.broadcast(tot), ["feature"])
    )
    term = (F.col("n") / F.col("n_tot")) * F.log(
        (F.col("n") * F.col("n_tot")) / (F.col("n_bin") * F.col("n_y"))
    )
    return (
        j.groupBy("feature")
        .agg(F.round(F.sum(term), 6).alias("mi"))
    )


def chi2_scores(df: DataFrame, cols: Sequence[str], label: str) -> DataFrame:
    """M9 — Pearson chi² statistic per feature (py:638-639) from the same
    contingency substrate: Σ (obs − exp)²/exp with exp = n_x·n_y/n.

    Absent (bin, label) combos contribute exp (obs=0) — handled by summing
    exp over the full cross product minus observed-cell corrections:
    Σ_cells (o−e)²/e = Σ_observed ((o−e)²/e − e) + Σ_full e, and
    Σ_full e = n. So chi² = n + Σ_observed (o²/e − 2o) — observed cells
    only, no dense cross join.
    """
    c = _feature_label_counts(df, cols, label)
    bx = c.groupBy("feature", "bin").agg(F.sum("n").alias("n_bin"))
    ly = c.groupBy("feature", "y").agg(F.sum("n").alias("n_y"))
    tot = c.groupBy("feature").agg(F.sum("n").alias("n_tot"))
    j = (
        c.join(F.broadcast(bx), ["feature", "bin"])
        .join(F.broadcast(ly), ["feature", "y"])
        .join(F.broadcast(tot), ["feature"])
    )
    e = F.col("n_bin") * F.col("n_y") / F.col("n_tot")
    return (
        j.groupBy("feature")
        .agg(
            F.round(
                F.first("n_tot") + F.sum(F.col("n") * F.col("n") / e - 2 * F.col("n")),
                6,
            ).alias("chi2")
        )
    )


def top_n_by_score(scores: DataFrame, n: int, score_col: str = "mi") -> list[str]:
    """M10 helper — top-n feature names by score (deterministic tiebreak on
    name). Feature count is human-scale: the only intentional collect."""
    rows = scores.orderBy(F.desc(score_col), "feature").limit(n).collect()
    return [r["feature"] for r in rows]


def top_n_retrain(
    df: DataFrame,
    candidate_cols: Sequence[str],
    label: str,
    ns: Sequence[int],
    num_trees: int = 50,
    seed: int = 42,
) -> DataFrame:
    """M10 — rank by MI, retrain on top-n, report held-out AUC per n
    (py:645-658). Caller caches ``df``."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from .features import assemble_features

    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    # rank on the TRAINING split only (reference py:633 scores
    # mutual_info_classif on X_train; ranking on all rows would leak test
    # labels into feature selection)
    mi = mutual_information(train, candidate_cols, label)
    ev = BinaryClassificationEvaluator(labelCol=label, metricName="areaUnderROC")
    rows = []
    for n in ns:
        cols = top_n_by_score(mi, n)
        tr = assemble_features(train.select(*cols, label), cols)
        te = assemble_features(test.select(*cols, label), cols)
        m = train_rf(tr, "features", label, num_trees=num_trees, seed=seed)
        rows.append((int(n), float(ev.evaluate(m.transform(te)))))
    return df.sparkSession.createDataFrame(rows, "n_features int, auc double")
