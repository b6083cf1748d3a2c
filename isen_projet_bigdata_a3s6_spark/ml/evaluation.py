"""ML evaluation parity (SURVEY §2.11 — reference R_groupe4.R:994-996,
1008-1011: train/test evaluation).

Design notes for scale:
- Splits are DETERMINISTIC functions of the row key — a modulo split or a
  multiplicative-hash split, both SQL-expressible and oracle-checkable.
  Never ``randomSplit``/``F.rand``: a random split is re-drawn under task
  retry, so a retried stage can move rows between train and test mid-job.
- Metrics are single aggregation passes (map-side combined). The
  oracle-exact regression path re-expresses SSE/SST through exact decimal
  moment sums so the scalar math happens once on the driver side of the
  aggregate — bit-identical to the DuckDB twin, no order-dependent double
  summation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import round6
from ..stats.regression import ols_moments


# ---------------------------------------------------------------------------
# deterministic splits
# ---------------------------------------------------------------------------
def modulo_is_test(key: Column | str, k: int = 5, test_bucket: int = 0) -> Column:
    """The modulo split as a row predicate: true on test rows (``key % k ==
    test_bucket``), false on train rows, null (neither side) where ``key``
    is null. Deterministic, retry-stable, and expressible in ANSI SQL for
    oracle checks. ``key`` should be an integer surrogate key (or any
    integer expression)."""
    key = F.col(key) if isinstance(key, str) else key
    return F.pmod(key, F.lit(k)) == F.lit(test_bucket)


def knuth_split(
    df: DataFrame, key_col: str, test_frac: float = 0.2
) -> tuple[DataFrame, DataFrame]:
    """(train, test) split by the cross-engine-reproducible multiplicative
    hash (operators/sampling.py::knuth_bucket — overflow-safe int64
    congruence arithmetic for any key; DuckDB replays it as
    ``((CAST(key AS HUGEINT) * 2654435761) % 10000 + 10000) % 10000``,
    same values), so the split can be part of an exact oracle;
    content-derived and retry/repartition-stable."""
    from ..operators.sampling import _BUCKETS, knuth_bucket

    bucket = knuth_bucket(key_col)
    is_test = bucket < F.lit(int(test_frac * _BUCKETS))
    return df.filter(~is_test), df.filter(is_test)


def knuth_split_sql(key_col: str, test_frac: float = 0.2) -> tuple[str, str]:
    """(train_where, test_where) DuckDB twins of :func:`knuth_split`."""
    from ..operators.sampling import _BUCKETS, _KNUTH

    pm = f"((CAST({key_col} AS HUGEINT) * {_KNUTH}) % {_BUCKETS} + {_BUCKETS}) % {_BUCKETS}"
    cut = int(test_frac * _BUCKETS)
    return f"NOT ({pm} < {cut})", f"{pm} < {cut}"


# ---------------------------------------------------------------------------
# evaluator table (single-pass aggregate; parity with Spark ML's evaluator
# is pinned in tests)
# ---------------------------------------------------------------------------
def classification_metrics(
    scored: DataFrame, label: str, pred: str = "prediction"
) -> DataFrame:
    """One-row binary-classification bundle (accuracy, precision, recall, f1,
    n) in a single aggregation pass — the Multiclass/BinaryEvaluator outputs
    the reference reads off its confusion table (R_groupe4.R:1010-1011)."""
    y = F.col(label).cast("long")
    p = F.col(pred).cast("long")
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((y == 1) & (p == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((y == 0) & (p == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((y == 1) & (p == 0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(y == p, 1).otherwise(0)).alias("correct"),
    )
    precision = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    recall = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    f1 = 2 * precision * recall / F.nullif(precision + recall, F.lit(0.0))
    return agg.select(
        (F.col("correct") / F.col("n")).alias("accuracy"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# oracle-exact train/test regression evaluation
# ---------------------------------------------------------------------------
def train_test_ols_eval(
    df: DataFrame,
    y: str,
    x: str,
    split_key: Column | str,
    k: int = 5,
    test_bucket: int = 0,
    scale: int = 4,
) -> DataFrame:
    """Deterministic modulo split → closed-form simple OLS on train →
    R²/RMSE on held-out test, all from exact moment sums.

    SSE_test = Σy² + a²Σx² + n·b² − 2aΣxy − 2bΣy + 2abΣx expands the
    residual sum through the (exact) test moments, so no order-dependent
    per-row double summation exists anywhere — the result is bit-identical
    to the SQL twin (:func:`ols_eval_oracle_sql`). One aggregation pass,
    map-side combined, carries both sides' moments: each sum is conditional
    on the row's side (:func:`modulo_is_test`), so a row with a null split
    key is in neither, and an empty side has n 0 and null sums.
    """
    is_test = modulo_is_test(split_key, k=k, test_bucket=test_bucket)
    both = df.dropna(subset=[x, y]).agg(
        *ols_moments(y, x, scale, where=~is_test, prefix="t_"),
        *ols_moments(y, x, scale, where=is_test, prefix="e_"),
    )
    tn = F.col("t_n").cast("double")
    ssxx = F.col("t_sxx") - F.col("t_sx") * F.col("t_sx") / tn
    ssxy = F.col("t_sxy") - F.col("t_sx") * F.col("t_sy") / tn
    a = ssxy / ssxx
    b = (F.col("t_sy") - a * F.col("t_sx")) / tn
    en = F.col("e_n").cast("double")
    sse = (
        F.col("e_syy")
        + a * a * F.col("e_sxx")
        + en * b * b
        - 2 * a * F.col("e_sxy")
        - 2 * b * F.col("e_sy")
        + 2 * a * b * F.col("e_sx")
    )
    sst = F.col("e_syy") - F.col("e_sy") * F.col("e_sy") / en
    return both.select(
        round6(a).alias("slope"),
        round6(b).alias("intercept"),
        round6(F.lit(1.0) - sse / sst).alias("r2_test"),
        round6(F.sqrt(sse / en)).alias("rmse_test"),
        F.col("t_n").cast("long").alias("n_train"),
        F.col("e_n").cast("long").alias("n_test"),
    )


def ols_eval_oracle_sql(
    table: str, y: str, x: str, split_sql: str, k: int = 5, test_bucket: int = 0, scale: int = 4
) -> str:
    """DuckDB twin of :func:`train_test_ols_eval` — same moments, same
    scalar math, same rounding. ``split_sql`` is the integer SQL expression
    used as the split key. DuckDB's ``%`` keeps the sign of the key, so the
    bucket is taken as ``((key % k) + k) % k``, Spark's ``pmod``."""
    h = scale // 2
    bucket = f"((({split_sql}) % {k}) + {k}) % {k}"

    def m(alias: str, pred: str) -> str:
        return f"""
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST({x} AS DECIMAL(38,{scale}))) AS DOUBLE) AS sx,
             CAST(SUM(CAST({y} AS DECIMAL(38,{scale}))) AS DOUBLE) AS sy,
             CAST(SUM(CAST({x} AS DECIMAL(18,{h})) * CAST({x} AS DECIMAL(18,{h}))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST({y} AS DECIMAL(18,{h})) * CAST({y} AS DECIMAL(18,{h}))) AS DOUBLE) AS syy,
             CAST(SUM(CAST({x} AS DECIMAL(18,{h})) * CAST({y} AS DECIMAL(18,{h}))) AS DOUBLE) AS sxy
      FROM {table}
      WHERE {x} IS NOT NULL AND {y} IS NOT NULL AND {pred}"""

    return f"""
    WITH tm AS ({m('tm', f'{bucket} <> {test_bucket}')}),
    em AS ({m('em', f'{bucket} = {test_bucket}')}),
    fit AS (
      SELECT tm.n AS t_n, em.n AS e_n,
             (tm.sxy - tm.sx * tm.sy / CAST(tm.n AS DOUBLE))
               / (tm.sxx - tm.sx * tm.sx / CAST(tm.n AS DOUBLE)) AS a,
             tm.sx AS t_sx, tm.sy AS t_sy,
             em.sx AS e_sx, em.sy AS e_sy, em.sxx AS e_sxx,
             em.syy AS e_syy, em.sxy AS e_sxy
      FROM tm, em),
    fit2 AS (
      SELECT *, (t_sy - a * t_sx) / CAST(t_n AS DOUBLE) AS b FROM fit),
    ev AS (
      SELECT *,
             e_syy + a * a * e_sxx + CAST(e_n AS DOUBLE) * b * b
               - 2 * a * e_sxy - 2 * b * e_sy + 2 * a * b * e_sx AS sse,
             e_syy - e_sy * e_sy / CAST(e_n AS DOUBLE) AS sst
      FROM fit2)
    SELECT ROUND(a, 6) AS slope,
           ROUND(b, 6) AS intercept,
           ROUND(1.0 - sse / sst, 6) AS r2_test,
           ROUND(SQRT(sse / CAST(e_n AS DOUBLE)), 6) AS rmse_test,
           CAST(t_n AS BIGINT) AS n_train,
           CAST(e_n AS BIGINT) AS n_test
    FROM ev
    """
