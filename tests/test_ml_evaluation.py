"""ML evaluation parity: splits, evaluator bundles, PCA.

Metric math is pinned to independent references — Spark ML's evaluators for
the metric bundles, numpy for PCA — so the single-pass aggregate
implementations can't drift."""

import pytest
from conftest import duck_rows
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.ml.evaluation import (
    classification_metrics,
    modulo_is_test,
    ols_eval_oracle_sql,
    train_test_ols_eval,
)


@pytest.fixture(scope="module")
def scored_clf(spark):
    # deterministic synthetic predictions: y in {0,1}, prediction flips on a
    # known subset so tp/fp/fn/tn are all non-trivial
    rows = [(i, float(i % 2), float((i % 2) ^ (i % 7 == 0))) for i in range(200)]
    return spark.createDataFrame(rows, "id long, label double, prediction double")


def test_classification_metrics_match_evaluator(scored_clf):
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    got = classification_metrics(scored_clf, "label").collect()[0]
    base = dict(predictionCol="prediction", labelCol="label")
    acc = MulticlassClassificationEvaluator(metricName="accuracy", **base).evaluate(scored_clf)
    prec = MulticlassClassificationEvaluator(
        metricName="precisionByLabel", metricLabel=1.0, **base
    ).evaluate(scored_clf)
    rec = MulticlassClassificationEvaluator(
        metricName="recallByLabel", metricLabel=1.0, **base
    ).evaluate(scored_clf)
    f1 = MulticlassClassificationEvaluator(
        metricName="fMeasureByLabel", metricLabel=1.0, **base
    ).evaluate(scored_clf)
    assert got["accuracy"] == pytest.approx(acc, abs=1e-12)
    assert got["precision"] == pytest.approx(prec, abs=1e-12)
    assert got["recall"] == pytest.approx(rec, abs=1e-12)
    assert got["f1"] == pytest.approx(f1, abs=1e-12)
    assert got["n"] == 200


def test_regression_metrics_match_evaluator(spark):
    """q79's train/test evaluation (exact-sum R²/RMSE on the held-out
    split) against Spark ML's RegressionEvaluator on the same split and
    the same fitted line."""
    from pyspark.ml.evaluation import RegressionEvaluator

    rows = [(i, float(i % 37), float(i % 37) * 0.5 + 3.0 + ((i % 5) - 2) * 0.25) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = train_test_ols_eval(df, "y", "x", "id", k=5).collect()[0]
    test = df.filter(modulo_is_test("id", k=5))
    scored = test.withColumn(
        "pred", F.lit(got["slope"]) * F.col("x") + F.lit(got["intercept"])
    )
    base = dict(predictionCol="pred", labelCol="y")
    # slope/intercept are round6'd, so the evaluator scores a line within
    # 1e-6 of the exact fit: ~1e-5 of metric drift, far below what a wrong
    # formula (say an n-1 RMSE denominator: ~1e-2 relative) would shift
    for metric, key in [("r2", "r2_test"), ("rmse", "rmse_test")]:
        want = RegressionEvaluator(metricName=metric, **base).evaluate(scored)
        assert got[key] == pytest.approx(want, abs=1e-4), metric
    assert (got["n_train"], got["n_test"]) == (160, 40)


def _ols_eval_pair(spark, rows, test_bucket=0):
    """train_test_ols_eval on ``rows`` (id, x, y) and its DuckDB twin
    (``ols_eval_oracle_sql``) on the same rows, split on
    pmod(id, 5) == test_bucket."""
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = tuple(
        train_test_ols_eval(df, "y", "x", "id", k=5, test_bucket=test_bucket).collect()[0]
    )
    values = ", ".join(
        "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")" for r in rows
    )
    table = (
        "(SELECT CAST(id AS BIGINT) AS id, CAST(x AS DOUBLE) AS x,"
        f" CAST(y AS DOUBLE) AS y FROM (VALUES {values}) v(id, x, y))"
    )
    (want,) = duck_rows(
        ols_eval_oracle_sql(table, "y", "x", split_sql="id", k=5, test_bucket=test_bucket)
    )
    return got, tuple(want)


_LINE = [(i, float(i % 11), float(i % 11) * 2.0 + (i % 3) * 0.5) for i in range(1, 41)]


def test_ols_eval_null_split_key_is_in_neither_side(spark):
    got, want = _ols_eval_pair(spark, _LINE + [(None, 1.0, 2.0), (None, 3.0, 7.0)])
    assert got == want
    assert got[4:] == (32, 8)


def test_ols_eval_all_train_matches_duckdb(spark):
    got, want = _ols_eval_pair(spark, [r for r in _LINE if r[0] % 5])
    assert got == want
    assert got[4:] == (32, 0) and got[2] is None and got[3] is None


def test_ols_eval_drops_null_x_y_before_the_split(spark):
    got, want = _ols_eval_pair(
        spark, _LINE + [(5, None, 1.0), (41, 2.0, None), (42, None, None)]
    )
    assert got == want
    assert got[4:] == (32, 8)


def test_ols_eval_negative_keys_match_duckdb(spark):
    """DuckDB's ``%`` keeps the key's sign; the twin takes the bucket as
    Spark's ``pmod`` does, so negative keys land on the same side."""
    rows = [(-i, float(i % 11), float(i % 11) * 2.0 + (i % 3) * 0.5) for i in range(1, 41)]
    got, want = _ols_eval_pair(spark, rows, test_bucket=1)
    assert got == want
    assert got[4:] == (32, 8)


def test_q79_scans_lineitem_once(spark, sf_dir):
    """Both sides' moments come from one aggregate over one scan: no second
    lineitem scan, no cross join of two aggregates."""
    from isen_projet_bigdata_a3s6_spark.queries import q79_train_test_r2

    plan = q79_train_test_r2(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert len(scans) == 1 and "lineitem" in scans[0], plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_splits_partition_and_are_deterministic(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def split(d):
        return (
            d.filter(~modulo_is_test("o_orderkey", k=5)),
            d.filter(modulo_is_test("o_orderkey", k=5)),
        )

    train, test = split(o)
    ne = test.count()
    assert train.count() + ne == o.count()
    assert train.join(test, "o_orderkey", "inner").count() == 0
    # retry/repartition stability: same membership at a different layout
    _, test2 = split(o.repartition(13))
    assert test2.select("o_orderkey").exceptAll(test.select("o_orderkey")).count() == 0
    assert test2.count() == ne


def test_pca_matches_numpy(spark):
    import numpy as np

    from isen_projet_bigdata_a3s6_spark.ml.pca import pca_fit, pca_project

    rng = np.random.default_rng(7)
    X = rng.standard_normal((200, 6)) @ np.diag([5, 3, 1, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(X)], "id long, v array<double>"
    ).repartition(5)
    mean, comps = pca_fit(df, "v", k=3)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    cov = np.cov(X, rowvar=False)
    w, v = np.linalg.eigh(cov)
    ref = v[:, np.argsort(w)[::-1][:3]].T
    for i in range(3):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(comps, ref, atol=1e-8)
    out = {r["id"]: r["pc"] for r in pca_project(df, "v", mean, comps).collect()}
    P = (X - X.mean(axis=0)) @ ref.T
    for i in range(200):
        assert np.allclose(out[i], P[i], atol=1e-8)


def test_pca_k_guard(spark):
    import pytest

    from isen_projet_bigdata_a3s6_spark.ml.pca import pca_fit

    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [2.0, 1.0])], "id long, v array<double>")
    with pytest.raises(ValueError):
        pca_fit(df, "v", k=3)
