"""Deterministic distributed IRLS logistic regression (M7/M8's
oracle-checkable twin; r09).

``ml.pipeline.fit_logistic`` (Spark ML, L-BFGS + standardization) remains
the API-parity surface for the reference's ``glm(family=binomial)``
(R_groupe4.R:1002-1008), but its float iteration order is engine-internal,
so its raw coefficients can never hash across engines. This module runs
NEWTON/IRLS as a FIXED number of one-pass aggregations — per round one
distributed job computes the gradient ``X'(y − p)`` and Hessian ``X'WX``
(k(k+3)/2 + 1 double sums), the driver solves the k×k system with the
shared natural-order Gauss-Jordan (stats/regression.py — the only driver
traffic is one moment row per round, the bounded-collect contract), and the
SQL twin (:func:`logistic_confusion_oracle_sql`) unrolls the SAME rounds as
materialized CTEs. Cross-engine float-sum order differs only in the
aggregation reductions (~1e-13 relative), which per-feature decimal
QUANTIZATION of the final coefficients absorbs; the confusion matrix is
then computed from the quantized coefficients on both engines — identical
margins, identical counts, exact hash.

Newton is affine-invariant, so the raw (unstandardized) design converges
as fast as a standardized one: on the orders design the max-|gradient|
falls below float noise by round 6; 8 rounds is the pinned contract.

Scale shape: per round ONE scan + map-side-combined aggregate; k is small
by contract (GLMs with thousands of features belong to L-BFGS). This is
exactly how distributed GLM fitting shapes at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stats.regression import _ols_design, gauss_jordan_inverse, gauss_jordan_sql_ctes

#: decimals kept per coefficient when quantizing for the confusion pass:
#: small-magnitude coefficients of large-scale numerics need more decimals
#: (β·x precision), O(1) intercept/dummy coefficients need fewer; both are
#: ~3 orders of magnitude coarser than the ~1e-12-relative cross-engine
#: agreement, so both engines always quantize to the SAME double.
NUMERIC_DECIMALS = 12
OTHER_DECIMALS = 8


def _z_chain(beta: list[float], k: int):
    z = F.lit(beta[0]) * F.col("__x0")
    for i in range(1, k):
        z = z + F.lit(beta[i]) * F.col(f"__x{i}")
    return z


def logistic_irls_fit(
    df: DataFrame,
    label: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> list[float] | None:
    """Fixed-round Newton/IRLS from β = 0. Returns the RAW coefficient
    list ``[intercept, numeric..., dummies...]``, or None on empty input
    (EMPTY-IN/EMPTY-OUT). Raises on a singular Hessian (fail-fast
    out-of-domain class, via gauss_jordan_inverse)."""
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    clean = df.dropna(subset=[label, *numeric, *cat_cols])
    proj = clean.select(
        F.col(label).cast("double").alias("__y"),
        *[feats[i][1]().cast("double").alias(f"__x{i}") for i in range(k)],
    ).persist()
    try:
        beta = [0.0] * k
        for _ in range(iters):
            z = _z_chain(beta, k)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w = p * (F.lit(1.0) - p)
            aggs = [F.count(F.lit(1)).alias("n")]
            for i in range(k):
                aggs.append(
                    F.sum(F.col(f"__x{i}") * (F.col("__y") - p)).alias(f"g_{i}")
                )
            for i in range(k):
                for j in range(i, k):
                    aggs.append(
                        F.sum(w * F.col(f"__x{i}") * F.col(f"__x{j}")).alias(
                            f"h_{i}_{j}"
                        )
                    )
            row = proj.agg(*aggs).collect()[0]
            if not row["n"]:
                return None
            h = [
                [row[f"h_{min(i, j)}_{max(i, j)}"] for j in range(k)]
                for i in range(k)
            ]
            g = [row[f"g_{i}"] for i in range(k)]
            inv = gauss_jordan_inverse(h)
            new_beta = []
            for i in range(k):
                acc = inv[i][0] * g[0]
                for j in range(1, k):
                    acc = acc + inv[i][j] * g[j]
                new_beta.append(beta[i] + acc)
            beta = new_beta
        return beta
    finally:
        proj.unpersist()


def quantize_beta(beta: list[float], n_numeric: int) -> list[float]:
    k = len(beta)
    decs = (
        [OTHER_DECIMALS]
        + [NUMERIC_DECIMALS] * n_numeric
        + [OTHER_DECIMALS] * (k - 1 - n_numeric)
    )
    return [round(b, d) for b, d in zip(beta, decs)]


def logistic_confusion_closed(
    df: DataFrame,
    label: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> DataFrame:
    """M7+M8 composed: fixed-round IRLS fit, per-feature coefficient
    quantization, then the long-form confusion matrix of the QUANTIZED
    model at threshold 0.5 (p > 0.5 ⟺ margin > 0 — computed margin-side,
    no sigmoid in the scoring pass). Long form, as R's ``table(label,
    pred)``: (label, prediction, n)."""
    spark = df.sparkSession
    beta = logistic_irls_fit(df, label, numeric, dummies, iters)
    schema = "label long, prediction long, n long"
    if beta is None:
        return spark.createDataFrame([], schema)
    bq = quantize_beta(beta, len(numeric))
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    clean = df.dropna(subset=[label, *numeric, *cat_cols])
    scored = clean.select(
        F.col(label).cast("long").alias("label"),
        *[feats[i][1]().cast("double").alias(f"__x{i}") for i in range(k)],
    )
    margin = _z_chain(bq, k)
    return (
        scored.withColumn(
            "prediction", F.when(margin > 0.0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        )
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _irls_ctes(
    table: str,
    label_sql: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int,
    fit_where: str | None = None,
) -> tuple[list[str], int]:
    """Shared CTE chain for the IRLS oracles (q44/q80/q81): ``clean``
    (the fit rows) → ``iters`` unrolled Newton rounds (score → moment
    aggregate → the shared Gauss-Jordan chain → update) → ``bq`` (the
    per-feature-quantized coefficients). MATERIALIZED throughout (default
    inlining would re-expand the whole chain per reference — the
    q229/PageRank unroll lesson). ``fit_where`` restricts the TRAINING
    rows (q80's split) on top of the NOT NULL guards. Returns
    (ctes, k)."""
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    notnull = " AND ".join(
        f"{c} IS NOT NULL" for c in [*dict.fromkeys([*_label_cols(label_sql), *numeric, *cat_cols])]
    )
    if fit_where:
        notnull = f"{notnull} AND ({fit_where})"
    xcols = ", ".join(
        f"CAST({feats[i][2]} AS DOUBLE) AS __x{i}" for i in range(k)
    )
    ctes = [
        f"clean AS MATERIALIZED (SELECT CAST({label_sql} AS DOUBLE) AS __y, {xcols}"
        f" FROM {table} WHERE {notnull})",
        "it0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0 AS DOUBLE) AS beta_{i}" for i in range(k))
        + ")",
    ]
    for t in range(1, iters + 1):
        z = " + ".join(f"b.beta_{i} * c.__x{i}" for i in range(k))
        score = (
            f"s{t} AS MATERIALIZED (SELECT c.*,"
            f" 1.0e0 / (1.0e0 + exp(-({z}))) AS p"
            f" FROM clean c CROSS JOIN it{t - 1} b)"
        )
        moms = ["COUNT(*) AS n"]
        for i in range(k):
            moms.append(f"SUM(__x{i} * (__y - p)) AS g_{i}")
        for i in range(k):
            for j in range(i, k):
                moms.append(
                    f"SUM(p * (1.0e0 - p) * __x{i} * __x{j}) AS h_{i}_{j}"
                )
        mom = f"mom{t} AS MATERIALIZED (SELECT {', '.join(moms)} FROM s{t})"
        mat_cells = ", ".join(
            f"h_{min(i, j)}_{max(i, j)} AS m_{i}_{j}"
            for i in range(k)
            for j in range(k)
        )
        mat = f"mat{t} AS MATERIALIZED (SELECT {mat_cells} FROM mom{t})"
        gj, ginv = gauss_jordan_sql_ctes(k, f"mat{t}", prefix=f"t{t}")
        upd_cols = ", ".join(
            f"b.beta_{i} + ("
            + " + ".join(f"g.t{t}inv_{i}_{j} * m.g_{j}" for j in range(k))
            + f") AS beta_{i}"
            for i in range(k)
        )
        upd = (
            f"it{t} AS MATERIALIZED (SELECT {upd_cols}"
            f" FROM it{t - 1} b CROSS JOIN {ginv} g CROSS JOIN mom{t} m)"
        )
        ctes.extend([score, mom, mat, gj, upd])
    decs = (
        [OTHER_DECIMALS]
        + [NUMERIC_DECIMALS] * len(numeric)
        + [OTHER_DECIMALS] * (k - 1 - len(numeric))
    )
    bq = ", ".join(
        f"ROUND(beta_{i}, {decs[i]}) AS q_{i}" for i in range(k)
    )
    ctes.append(f"bq AS MATERIALIZED (SELECT {bq} FROM it{iters})")
    return ctes, k


def logistic_eval_closed(
    train: DataFrame,
    test: DataFrame,
    label: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> DataFrame:
    """q80's engine path: fixed-round IRLS on the TRAIN split, quantized
    coefficients, margin-scored TEST split, then the
    ml.evaluation.classification_metrics bundle (same expression tree) —
    every count exact, ratios IEEE divisions, round4 display."""
    from .evaluation import classification_metrics

    spark = train.sparkSession
    schema = "accuracy double, precision double, recall double, f1 double, n long"
    beta = logistic_irls_fit(train, label, numeric, dummies, iters)
    if beta is None:
        return spark.createDataFrame([], schema)
    bq = quantize_beta(beta, len(numeric))
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    clean_t = test.dropna(subset=[label, *numeric, *cat_cols])
    scored = clean_t.select(
        F.col(label).cast("long").alias("label"),
        *[feats[i][1]().cast("double").alias(f"__x{i}") for i in range(k)],
    )
    margin = _z_chain(bq, k)
    scored = scored.withColumn(
        "prediction",
        F.when(margin > 0.0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    m = classification_metrics(scored, "label")
    return m.filter(F.col("n") > 0).select(
        F.round("accuracy", 4).alias("accuracy"),
        F.round("precision", 4).alias("precision"),
        F.round("recall", 4).alias("recall"),
        F.round("f1", 4).alias("f1"),
        "n",
    )


def logistic_summary_closed(
    df: DataFrame,
    label: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> DataFrame:
    """q81's engine path: fixed-round IRLS, then ONE more Hessian pass at
    the QUANTIZED coefficients and the shared Gauss-Jordan inverse for the
    observed-information standard errors (summary(glm)'s table); z = βq/se
    round2. Emits (feature, coefficient, z_value) — the coefficient column
    IS the quantized value (deterministic, no further display rounding:
    the totalprice slope is ~1e-8, which a blanket round6 would erase)."""
    spark = df.sparkSession
    schema = "feature string, coefficient double, z_value double"
    beta = logistic_irls_fit(df, label, numeric, dummies, iters)
    if beta is None:
        return spark.createDataFrame([], schema)
    bq = quantize_beta(beta, len(numeric))
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    clean = df.dropna(subset=[label, *numeric, *cat_cols])
    proj = clean.select(
        *[feats[i][1]().cast("double").alias(f"__x{i}") for i in range(k)],
    )
    z = _z_chain(bq, k)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    w = p * (F.lit(1.0) - p)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(w * F.col(f"__x{i}") * F.col(f"__x{j}")).alias(f"h_{i}_{j}")
            )
    row = proj.agg(*aggs).collect()[0]
    h = [[row[f"h_{min(i, j)}_{max(i, j)}"] for j in range(k)] for i in range(k)]
    inv = gauss_jordan_inverse(h)
    # z rounded via F.round (engine half-away semantics, matching SQL
    # ROUND — Python round is half-even)
    out = [(feats[i][0], bq[i], bq[i] / inv[i][i] ** 0.5) for i in range(k)]
    raw = spark.createDataFrame(out, "feature string, coefficient double, z_raw double")
    # signed-zero normalization on BOTH display columns (q43 convention):
    # coefficient is Python-round quantized (round(-1e-12, 6) IS -0.0,
    # stringifying as "-0.0") and z inherits its sign — +0.0 pins both
    # engines to the unsigned rendering
    return raw.select(
        "feature",
        (F.col("coefficient") + F.lit(0.0)).alias("coefficient"),
        (F.round("z_raw", 2) + F.lit(0.0)).alias("z_value"),
    )


def logistic_confusion_oracle_sql(
    table: str,
    label_sql: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> str:
    """ANSI-SQL twin of :func:`logistic_confusion_closed`: the shared IRLS
    chain (:func:`_irls_ctes`), then the margin scoring and long-form
    confusion counts mirroring the Spark side term-for-term."""
    ctes, k = _irls_ctes(table, label_sql, numeric, dummies, iters)
    margin = " + ".join(f"b.q_{i} * c.__x{i}" for i in range(k))
    ctes.append(
        "scored AS (SELECT CAST(c.__y AS BIGINT) AS label,"
        f" CASE WHEN ({margin}) > 0.0e0 THEN 1 ELSE 0 END AS prediction"
        " FROM clean c CROSS JOIN bq b)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT label, CAST(prediction AS BIGINT) AS prediction,"
        " COUNT(*) AS n FROM scored GROUP BY 1, 2"
    )


def logistic_eval_oracle_sql(
    table: str,
    label_sql: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    train_where: str,
    test_where: str,
    iters: int = 8,
) -> str:
    """ANSI-SQL twin of :func:`logistic_eval_closed` (q80): the IRLS chain
    fits on the TRAIN split, the quantized model scores the TEST split,
    and accuracy/precision/recall/F1 mirror ml.evaluation.
    classification_metrics (tp / NULLIF sums, same expression tree)."""
    ctes, k = _irls_ctes(table, label_sql, numeric, dummies, iters, fit_where=train_where)
    feats = _ols_design(numeric, dummies)
    cat_cols = sorted({c for c, _ in dummies})
    notnull = " AND ".join(
        f"{c} IS NOT NULL"
        for c in [*dict.fromkeys([*_label_cols(label_sql), *numeric, *cat_cols])]
    )
    xcols = ", ".join(f"CAST({feats[i][2]} AS DOUBLE) AS __x{i}" for i in range(k))
    ctes.append(
        f"test AS MATERIALIZED (SELECT CAST({label_sql} AS DOUBLE) AS __y, {xcols}"
        f" FROM {table} WHERE {notnull} AND ({test_where}))"
    )
    margin = " + ".join(f"b.q_{i} * c.__x{i}" for i in range(k))
    ctes.append(
        "scored AS (SELECT CAST(c.__y AS BIGINT) AS y,"
        f" CASE WHEN ({margin}) > 0.0e0 THEN 1 ELSE 0 END AS p"
        " FROM test c CROSS JOIN bq b)"
    )
    ctes.append(
        "cm AS (SELECT COUNT(*) AS n,"
        " SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS tp,"
        " SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS fp,"
        " SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS fn,"
        " SUM(CASE WHEN y = p THEN 1 ELSE 0 END) AS correct"
        " FROM scored)"
    )
    ctes.append(
        "m AS (SELECT n,"
        " CAST(correct AS DOUBLE) / n AS acc_raw,"
        " CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0) AS prec_raw,"
        " CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS rec_raw"
        " FROM cm)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT ROUND(acc_raw, 4) AS accuracy,"
        " ROUND(prec_raw, 4) AS \"precision\","
        " ROUND(rec_raw, 4) AS recall,"
        " ROUND(2.0e0 * prec_raw * rec_raw"
        "       / NULLIF(prec_raw + rec_raw, 0.0e0), 4) AS f1,"
        " CAST(n AS BIGINT) AS n"
        " FROM m WHERE n > 0"
    )


def logistic_summary_oracle_sql(
    table: str,
    label_sql: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    iters: int = 8,
) -> str:
    """ANSI-SQL twin of :func:`logistic_summary_closed` (q81): the IRLS
    chain, then ONE more Hessian pass at the QUANTIZED coefficients and
    the shared Gauss-Jordan inverse for the observed-information standard
    errors; z = βq / se, round2 (the float-sum engine noise in the final
    Hessian is ~1e-13 relative — far inside the display rounding)."""
    ctes, k = _irls_ctes(table, label_sql, numeric, dummies, iters)
    from ..stats.regression import gauss_jordan_sql_ctes

    zq = " + ".join(f"b.q_{i} * c.__x{i}" for i in range(k))
    ctes.append(
        f"sfin AS MATERIALIZED (SELECT c.*, 1.0e0 / (1.0e0 + exp(-({zq}))) AS p"
        " FROM clean c CROSS JOIN bq b)"
    )
    hmoms = ["COUNT(*) AS n"]
    for i in range(k):
        for j in range(i, k):
            hmoms.append(
                f"SUM(p * (1.0e0 - p) * __x{i} * __x{j}) AS h_{i}_{j}"
            )
    ctes.append(f"hfin AS MATERIALIZED (SELECT {', '.join(hmoms)} FROM sfin)")
    mat_cells = ", ".join(
        f"h_{min(i, j)}_{max(i, j)} AS m_{i}_{j}" for i in range(k) for j in range(k)
    )
    ctes.append(f"matf AS MATERIALIZED (SELECT {mat_cells} FROM hfin)")
    gj, ginv = gauss_jordan_sql_ctes(k, "matf", prefix="fin")
    ctes.append(gj)
    feats = _ols_design(numeric, dummies)
    # n > 0 guard: EMPTY-IN/EMPTY-OUT parity with logistic_summary_closed
    # (SUM over an empty frame is one NULL row, and the CROSS JOIN would
    # fan it into k NULL coefficient rows — the r09 empty-sweep drift)
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT '{feats[i][0]}' AS feature, q_{i} + 0e0 AS coefficient,"
        f" ROUND(q_{i} / sqrt(fininv_{i}_{i}), 2) + 0e0 AS z_value"
        f" FROM bq CROSS JOIN {ginv} CROSS JOIN hfin WHERE hfin.n > 0"
        for i in range(k)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


def _label_cols(label_sql: str) -> list[str]:
    """Columns the label expression depends on, for the NOT NULL guard —
    callers pass either a bare column name or a CASE over one column;
    we extract identifiers conservatively (the q44 registration passes
    the source column explicitly via this convention: the expression's
    first identifier)."""
    import re

    ids = re.findall(r"[A-Za-z_][A-Za-z0-9_]*", label_sql)
    keywords = {"CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT", "IS", "NULL", "CAST", "AS", "DOUBLE", "BIGINT"}
    return [i for i in ids if i.upper() not in keywords and not i.isdigit()][:1]
