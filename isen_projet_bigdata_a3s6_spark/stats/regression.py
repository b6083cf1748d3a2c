"""Closed-form regression as aggregation (SURVEY §2.11 M6; M4's SQL twin).

Reference: ``lm(age_estim ~ tronc_diam)`` + predict + RSE + R²
(R_groupe4.R:983-996). Simple OLS has an exact closed form from the same
moment sums the descriptive module computes — slope = S_xy/S_xx (centered),
intercept = ȳ − slope·x̄ — so it is oracle-checkable and runs as ONE
aggregation pass at any scale. Multiple OLS with inference (coefficients,
std errors, t values) is :func:`multiple_ols_closed_form`, from the same
kind of exact moment sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import dec, round6


def ols_moments(
    y: str, x: str, scale: int = 4, where: Column | None = None, prefix: str = ""
) -> list[Column]:
    """Exact moment sums (n, Σx, Σy, Σx², Σy², Σxy) as aggregate columns
    named ``{prefix}n`` ... ``{prefix}sxy``: decimal sums, one cast to double
    each, so the doubles do not depend on row order. Over the rows where
    ``where`` holds (all rows when it is None; a null ``where`` counts as
    false), so one aggregate can carry several row sets. Callers drop the
    rows with a null ``x`` or ``y`` first."""

    def on(c: Column) -> Column:
        return c if where is None else F.when(where, c)

    h = scale // 2
    xh, yh = dec(x, 18, h), dec(y, 18, h)
    sums = {
        "sx": dec(x, 38, scale), "sy": dec(y, 38, scale),
        "sxx": xh * xh, "syy": yh * yh, "sxy": xh * yh,
    }
    return [
        F.count(on(F.lit(1))).alias(f"{prefix}n"),
        *[F.sum(on(c)).cast("double").alias(prefix + name) for name, c in sums.items()],
    ]


def simple_ols_df(df: DataFrame, y: str, x: str, scale: int = 4) -> DataFrame:
    """M6 as a DataFrame: slope, intercept, r2, rse, n — exact sums,
    deterministic double math, round6."""
    agg = df.dropna(subset=[x, y]).agg(*ols_moments(y, x, scale))
    n = F.col("n").cast("double")
    ssxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    ssyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    ssxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    slope = ssxy / ssxx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (ssxy * ssxy) / (ssxx * ssyy)
    sse = ssyy - slope * ssxy
    rse = F.sqrt(sse / (n - 2))
    return agg.select(
        round6(slope).alias("slope"),
        round6(intercept).alias("intercept"),
        round6(r2).alias("r2"),
        round6(rse).alias("rse"),
        F.col("n").cast("long").alias("n"),
    )


def simple_ols_oracle_sql(table: str, y: str, x: str, scale: int = 4, where: str = "") -> str:
    w = f"AND {where}" if where else ""
    return f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST({x} AS DECIMAL(38,{scale}))) AS DOUBLE) AS sx,
             CAST(SUM(CAST({y} AS DECIMAL(38,{scale}))) AS DOUBLE) AS sy,
             CAST(SUM(CAST({x} AS DECIMAL(18,{scale//2})) * CAST({x} AS DECIMAL(18,{scale//2}))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST({y} AS DECIMAL(18,{scale//2})) * CAST({y} AS DECIMAL(18,{scale//2}))) AS DOUBLE) AS syy,
             CAST(SUM(CAST({x} AS DECIMAL(18,{scale//2})) * CAST({y} AS DECIMAL(18,{scale//2}))) AS DOUBLE) AS sxy
      FROM {table} WHERE {x} IS NOT NULL AND {y} IS NOT NULL {w}),
    d AS (
      SELECT n, sxx - sx * sx / CAST(n AS DOUBLE) AS ssxx,
             syy - sy * sy / CAST(n AS DOUBLE) AS ssyy,
             sxy - sx * sy / CAST(n AS DOUBLE) AS ssxy,
             sx, sy
      FROM m)
    SELECT ROUND(ssxy / ssxx, 6) AS slope,
           ROUND((sy - (ssxy / ssxx) * sx) / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND(ssxy * ssxy / (ssxx * ssyy), 6) AS r2,
           ROUND(SQRT((ssyy - (ssxy / ssxx) * ssxy) / (CAST(n AS DOUBLE) - 2)), 6) AS rse,
           CAST(n AS BIGINT) AS n
    FROM d
    """


# ---------------------------------------------------------------------------
# Multiple OLS with inference, closed-form (M4's scalable twin; r09):
# ONE aggregation pass computes the exact-decimal normal-equation moments
# (X'X, X'y, y'y, n — order-independent, so both engines see IDENTICAL
# doubles after the single cast), then a deterministic natural-order
# Gauss-Jordan inverts the k×k Gram matrix. The Python solver below and
# the SQL generator emit the SAME operation sequence op-for-op, so the
# coefficients, standard errors and t-values are BIT-IDENTICAL across
# engines (pinned in tests/test_round9_ml.py on random PD systems) — the
# oracle masks nothing with rounding; q43's round4/round2 is display-only.
#
# Dummy coding is R-style treatment coding with ALPHABETICAL levels and
# the first level as reference (the reference's summary(lm) coding,
# R_groupe4.R:845-847) — data-independent, so the oracle SQL can be
# generated statically. Pivoting: natural order, safe here because the
# Gram matrix of a full-rank design is positive definite (every leading
# principal minor positive ⇒ no zero pivot).
# ---------------------------------------------------------------------------
def gauss_jordan_inverse(a: list[list[float]]) -> list[list[float]]:
    """Invert a k×k matrix by Gauss-Jordan WITHOUT pivot reordering —
    the float operation order is the contract (the SQL twin replays it
    bit-for-bit), so no numpy/LAPACK is used anywhere on this path."""
    k = len(a)
    m = [list(row) + [1.0 if i == j else 0.0 for j in range(k)] for i, row in enumerate(a)]
    for c in range(k):
        piv = m[c][c]
        if piv == 0.0:
            # exactly-singular design (collinear columns): fail loud — the
            # fail-fast out-of-domain class, same doctrine as the ANSI
            # decimal overflows (README); a silent pseudo-inverse would
            # report garbage inference
            raise ValueError(
                f"gauss_jordan_inverse: zero pivot at column {c} — singular design"
            )
        m[c] = [v / piv for v in m[c]]
        for r in range(k):
            if r == c:
                continue
            f = m[r][c]
            m[r] = [m[r][j] - f * m[c][j] for j in range(2 * k)]
    return [row[k:] for row in m]


def gauss_jordan_sql_ctes(k: int, src_cte: str, prefix: str = "") -> tuple[str, str]:
    """CTE chain inverting the k×k matrix held in columns ``m_{r}_{j}`` of
    ``src_cte`` (augmented columns are generated here), mirroring
    :func:`gauss_jordan_inverse`'s operation order exactly: per pivot
    column one normalize CTE (row c divided by its pivot) then one
    eliminate CTE (every other row minus factor×normalized row). Returns
    (ctes_sql, final_cte) where the final CTE carries ``inv_{i}_{j}``."""
    w = 2 * k

    def cell(r: int, j: int) -> str:
        return f"m_{r}_{j}"

    # augment with the identity
    aug_cols = ", ".join(
        f"{cell(r, j)}" for r in range(k) for j in range(k)
    ) + ", " + ", ".join(
        f"CAST({1.0 if r == j - k else 0.0} AS DOUBLE) AS {cell(r, j)}"
        for r in range(k)
        for j in range(k, w)
    )
    ctes = [f"{prefix}g0 AS (SELECT {aug_cols} FROM {src_cte})"]
    cur = f"{prefix}g0"
    for c in range(k):
        norm_cols = []
        for r in range(k):
            for j in range(w):
                if r == c:
                    norm_cols.append(f"{cell(r, j)} / {cell(c, c)} AS {cell(r, j)}")
                else:
                    norm_cols.append(cell(r, j))
        nname = f"{prefix}n{c}"
        ctes.append(f"{nname} AS (SELECT {', '.join(norm_cols)} FROM {cur})")
        elim_cols = []
        for r in range(k):
            for j in range(w):
                if r == c:
                    elim_cols.append(cell(r, j))
                else:
                    elim_cols.append(
                        f"{cell(r, j)} - {cell(r, c)} * {cell(c, j)} AS {cell(r, j)}"
                    )
        ename = f"{prefix}e{c}"
        ctes.append(f"{ename} AS (SELECT {', '.join(elim_cols)} FROM {nname})")
        cur = ename
    inv_cols = ", ".join(
        f"{cell(i, k + j)} AS {prefix}inv_{i}_{j}" for i in range(k) for j in range(k)
    )
    fname = f"{prefix}ginv"
    ctes.append(f"{fname} AS (SELECT {inv_cols} FROM {cur})")
    return ",\n    ".join(ctes), fname


def _ols_design(numeric: list[str], dummies: list[tuple[str, str]]):
    """Feature list for the closed-form multiple OLS: (name, spark_col_fn,
    sql_expr) triples, intercept first, R-style dummy names col=level."""
    feats = [("intercept", lambda: F.lit(1), "1")]
    for c in numeric:
        feats.append((c, (lambda c=c: F.col(c)), c))
    for c, lv in dummies:
        feats.append(
            (
                f"{c}={lv}",
                (lambda c=c, lv=lv: F.when(F.col(c) == F.lit(lv), 1).otherwise(0)),
                f"(CASE WHEN {c} = '{lv}' THEN 1 ELSE 0 END)",
            )
        )
    return feats


def multiple_ols_closed_form(
    df: DataFrame,
    y: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    scale: int = 2,
) -> DataFrame:
    """M4 multiple OLS + inference in ONE distributed aggregation pass:
    exact-decimal Gram moments, then the shared natural-order Gauss-Jordan
    on the driver (a k×k solve — microseconds; the only driver traffic is
    the single moment row, the bounded-collect contract). Returns one row
    per feature: (feature, coefficient, std_error, t_value), UNROUNDED —
    callers round for display. Empty input → empty frame (EMPTY-IN/
    EMPTY-OUT, matching ml.fit_multiple_ols)."""
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    clean = df.dropna(subset=[y, *numeric, *cat_cols])
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(
                    dec(feats[i][1](), 18, scale) * dec(feats[j][1](), 18, scale)
                ).cast("double").alias(f"a_{i}_{j}")
            )
    for i in range(k):
        aggs.append(
            F.sum(dec(feats[i][1](), 18, scale) * dec(y, 18, scale))
            .cast("double").alias(f"b_{i}")
        )
    aggs.append(F.sum(dec(y, 18, scale) * dec(y, 18, scale)).cast("double").alias("yty"))
    row = clean.agg(*aggs).collect()[0]
    spark = df.sparkSession
    schema = "feature string, coefficient double, std_error double, t_value double"
    if not row["n"] or row["n"] <= k:
        return spark.createDataFrame([], schema)
    a = [[row[f"a_{min(i, j)}_{max(i, j)}"] for j in range(k)] for i in range(k)]
    b = [row[f"b_{i}"] for i in range(k)]
    inv = gauss_jordan_inverse(a)
    beta = []
    for i in range(k):
        acc = inv[i][0] * b[0]
        for j in range(1, k):
            acc = acc + inv[i][j] * b[j]
        beta.append(acc)
    rss = row["yty"]
    for j in range(k):
        rss = rss - beta[j] * b[j]
    sigma2 = rss / float(row["n"] - k)
    out = []
    for i in range(k):
        se = (inv[i][i] * sigma2) ** 0.5
        out.append((feats[i][0], beta[i], se, beta[i] / se))
    return spark.createDataFrame(out, schema)


def multiple_ols_oracle_sql(
    table: str,
    y: str,
    numeric: list[str],
    dummies: list[tuple[str, str]],
    scale: int = 2,
    round_coef: int = 4,
    round_t: int = 2,
) -> str:
    """ANSI-SQL twin of :func:`multiple_ols_closed_form`: identical
    exact-decimal moments (single double cast), identical Gauss-Jordan
    operation order (:func:`gauss_jordan_sql_ctes`), identical left-fold
    β/RSS chains — bit-identical statistics, rounded only for display."""
    feats = _ols_design(numeric, dummies)
    k = len(feats)
    cat_cols = sorted({c for c, _ in dummies})
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *numeric, *cat_cols])

    def d(e: str) -> str:
        return f"CAST({e} AS DECIMAL(18,{scale}))"

    moms = ["COUNT(*) AS n"]
    for i in range(k):
        for j in range(i, k):
            moms.append(
                f"CAST(SUM({d(feats[i][2])} * {d(feats[j][2])}) AS DOUBLE) AS a_{i}_{j}"
            )
    for i in range(k):
        moms.append(f"CAST(SUM({d(feats[i][2])} * {d(y)}) AS DOUBLE) AS b_{i}")
    moms.append(f"CAST(SUM({d(y)} * {d(y)}) AS DOUBLE) AS yty")
    init_cells = ", ".join(
        f"a_{min(i, j)}_{max(i, j)} AS m_{i}_{j}" for i in range(k) for j in range(k)
    )
    gj, ginv = gauss_jordan_sql_ctes(k, "mat")
    beta_cols = ", ".join(
        " + ".join(f"inv_{i}_{j} * b_{j}" for j in range(k)) + f" AS beta_{i}"
        for i in range(k)
    )
    rss = "yty - " + " - ".join(f"beta_{j} * b_{j}" for j in range(k))
    # n > k guard: EMPTY-IN/EMPTY-OUT parity with multiple_ols_closed_form
    # (a fit on <= k rows is undefined; Spark returns an empty frame, so
    # the oracle must emit zero rows, not k NULL rows)
    # + 0e0 after display rounding: signed-zero normalization (the r09 red
    # row — DuckDB ROUND of a tiny negative emits -0.0, Spark emits 0.0;
    # IEEE -0.0 + 0.0 = +0.0 pins both engines to the same string).
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT '{feats[i][0]}' AS feature,"
        f" ROUND(beta_{i}, {round_coef}) + 0e0 AS coefficient,"
        f" ROUND(beta_{i} / sqrt(inv_{i}_{i} * sigma2), {round_t}) + 0e0 AS t_value"
        f" FROM stats WHERE n > {k}"
        for i in range(k)
    )
    return f"""
    WITH mom AS (
      SELECT {', '.join(moms)}
      FROM {table} WHERE {notnull}
    ),
    mat AS (SELECT {init_cells} FROM mom),
    {gj},
    betas AS (
      SELECT mom.*, {ginv}.*, {beta_cols}
      FROM mom CROSS JOIN {ginv}
    ),
    stats AS (
      SELECT *, ({rss}) / CAST(n - {k} AS DOUBLE) AS sigma2 FROM betas
    )
    {rows}
    """
