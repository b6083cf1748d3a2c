"""Spark ML references for tests (SURVEY §2.11 M4, M7).

The registered paths fit these models in closed form (``ml/irls.py``,
``stats/regression.py``); the tests pin them against the Spark ML fits here:
- M4 multiple OLS with inferential summary (R ``lm`` + ``summary``,
  R_groupe4.R:845-847), q43's twin: LinearRegression with
  ``solver="normal"`` so coefficient std-errors / t / p are available like
  R's summary.lm.
- M7 logistic (R ``glm(family=binomial)``, R_groupe4.R:1002-1008), q44's
  twin.

Categorical predictors go through StringIndexer→OneHotEncoder exactly where
the reference relies on R's automatic dummy expansion.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _feature_pipeline(numeric: list[str], categorical: list[str]) -> list:
    # handleInvalid="skip" + dropLast=True gives R-style treatment coding:
    # k-1 dummies per k-level factor. (handleInvalid="keep" would add a
    # never-seen index whose dropLast removal leaves ALL k levels encoded —
    # perfectly collinear with the intercept, so the normal solver's
    # Cholesky goes singular and inference stats vanish.)
    stages = []
    encoded = []
    for c in categorical:
        stages.append(StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="skip"))
        stages.append(OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_oh"))
        encoded.append(f"{c}_oh")
    stages.append(
        VectorAssembler(inputCols=numeric + encoded, outputCol="features")
    )
    return stages


def fit_multiple_ols(
    df: DataFrame,
    label: str,
    numeric: list[str],
    categorical: list[str] | None = None,
) -> tuple[PipelineModel, DataFrame]:
    """M4: multiple linear regression with inference. Returns (model,
    summary_df) where summary_df has one row per coefficient:
    (feature, coefficient, std_error, t_value, p_value) plus the intercept —
    the reference's ``summary(lm)`` table (R_groupe4.R:845-847)."""
    categorical = categorical or []
    clean = df.dropna(subset=[label, *numeric, *categorical])
    if clean.isEmpty():
        # empty-in/empty-out: nothing to fit on a no-data day (a model fit
        # on zero rows is undefined; StringIndexer would abort anyway) —
        # the empty summary keeps a scheduled pipeline alive so downstream
        # gates can alarm on it
        empty = df.sparkSession.createDataFrame(
            [],
            "feature string, coefficient double, std_error double,"
            " t_value double, p_value double",
        )
        return None, empty
    stages = _feature_pipeline(numeric, categorical)
    lr = LinearRegression(
        featuresCol="features", labelCol=label, solver="normal", regParam=0.0
    )
    model = Pipeline(stages=[*stages, lr]).fit(clean)
    lrm = model.stages[-1]
    names = ["intercept"] + _assembled_names(model, numeric, categorical)
    coefs = [float(lrm.intercept)] + [float(c) for c in lrm.coefficients]
    s = lrm.summary
    ses, ts, ps = (
        list(s.coefficientStandardErrors),
        list(s.tValues),
        list(s.pValues),
    )
    # Spark appends the intercept LAST in the inference arrays
    ses = [ses[-1]] + ses[:-1]
    ts = [ts[-1]] + ts[:-1]
    ps = [ps[-1]] + ps[:-1]
    spark = df.sparkSession
    rows = [
        (n, c, se, t, p) for n, c, se, t, p in zip(names, coefs, ses, ts, ps)
    ]
    summary_df = spark.createDataFrame(
        rows, "feature string, coefficient double, std_error double, t_value double, p_value double"
    )
    return model, summary_df


def _assembled_names(model: PipelineModel, numeric: list[str], categorical: list[str]) -> list[str]:
    names = list(numeric)
    for c in categorical:
        for s in model.stages:
            if getattr(s, "getOutputCol", None) and s.getOutputCol() == f"{c}_idx":
                labels = list(s.labels)
                # OneHotEncoder(dropLast=True): the last label is the
                # reference level (treatment coding), not an encoded dim
                names.extend(f"{c}={lab}" for lab in labels[:-1])
                break
    return names


def fit_logistic(
    df: DataFrame,
    label: str,
    numeric: list[str],
    categorical: list[str] | None = None,
    threshold: float = 0.5,
) -> tuple[PipelineModel, DataFrame]:
    """M7: binomial logistic regression; returns (model, scored_df) with
    ``probability_1`` and thresholded ``prediction`` columns
    (reference predict(type="response") + 0.5 cut, R_groupe4.R:1005-1007)."""
    categorical = categorical or []
    # Mirror fit_multiple_ols: drop rows with NULL label or
    # features BEFORE the emptiness guard — a non-empty frame whose label
    # column is all-NULL (the degenerate-day shape) would otherwise reach
    # Pipeline.fit and crash inside the assembler.
    clean = df.dropna(subset=[label, *numeric, *categorical])
    if clean.isEmpty():
        # empty-in/empty-out (see fit_multiple_ols): scored frame keeps the
        # input schema plus the two scoring columns, with zero rows
        scored = clean.withColumn("probability_1", F.lit(0.0)).withColumn(
            "prediction", F.lit(0.0)
        )
        return None, scored
    stages = _feature_pipeline(numeric, categorical)
    lr = LogisticRegression(featuresCol="features", labelCol=label)
    model = Pipeline(stages=[*stages, lr]).fit(clean)
    scored = model.transform(clean)
    from pyspark.ml.functions import vector_to_array

    scored = scored.withColumn(
        "probability_1", vector_to_array("probability")[1]
    ).withColumn(
        "prediction", F.when(F.col("probability_1") > threshold, 1.0).otherwise(0.0)
    )
    return model, scored
