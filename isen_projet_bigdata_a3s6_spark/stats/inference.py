"""Hypothesis tests as aggregations (SURVEY §2.11 M3 chi-square, M5 ANOVA).

Reference: ``chisq.test(table(a, b))`` (R_groupe4.R:836-841, 882-900) and
``aov(y ~ g)`` (R_groupe4.R:873-874). Both reduce to grouped counts/sums —
two-phase hash aggregation, one shuffle, any scale — with the test statistic
computed from the (tiny) aggregate as a second Spark aggregate, so the
result is a DataFrame the DuckDB twin checks exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import dec, round6


def chi_square_df(df: DataFrame, a: str, b: str) -> DataFrame:
    """M3 as a DataFrame: χ² statistic + dof for independence of two
    categorical columns. Exact integer counts → deterministic double math →
    oracle-exact under round6.

    Plan: one groupBy(a,b).count, then window sums for the margins (the
    contingency table is tiny after aggregation), one final reduce.
    """
    obs = df.groupBy(a, b).agg(F.count(F.lit(1)).alias("o"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.count_distinct(F.col(a)).alias("ra"),
        F.count_distinct(F.col(b)).alias("cb"),
    )
    row_m = obs.groupBy(a).agg(F.sum("o").alias("row_tot"))
    col_m = obs.groupBy(b).agg(F.sum("o").alias("col_tot"))
    joined = (
        obs.join(F.broadcast(row_m), a)
        .join(F.broadcast(col_m), b)
        .crossJoin(F.broadcast(tot))
    )
    # chi2 over observed cells + correction for structurally-zero cells:
    # cells absent from the data contribute E (since (0-E)^2/E = E); total
    # missing contribution = N - sum(E_present).
    term = F.pow(
        F.col("o").cast("double")
        - F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n"),
        2,
    ) / (F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n"))
    present = joined.agg(
        F.sum(term).alias("chi2_present"),
        F.sum(
            F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
        ).alias("e_present"),
        F.first("n").alias("n"),
        F.first("ra").alias("ra"),
        F.first("cb").alias("cb"),
    )
    return present.select(
        round6(
            F.col("chi2_present") + (F.col("n").cast("double") - F.col("e_present"))
        ).alias("chi2"),
        ((F.col("ra") - 1) * (F.col("cb") - 1)).cast("long").alias("dof"),
    )


def chi_square_oracle_sql(table: str, a: str, b: str) -> str:
    """DuckDB twin of :func:`chi_square_df` (same formula, same rounding)."""
    return f"""
    WITH obs AS (SELECT {a} AS a, {b} AS b, COUNT(*) AS o FROM {table} GROUP BY 1, 2),
    tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS ra, COUNT(DISTINCT b) AS cb FROM obs),
    rm AS (SELECT a, SUM(o) AS row_tot FROM obs GROUP BY 1),
    cm AS (SELECT b, SUM(o) AS col_tot FROM obs GROUP BY 1),
    cells AS (
      SELECT obs.o, rm.row_tot, cm.col_tot, tot.n, tot.ra, tot.cb
      FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tot)
    SELECT ROUND(SUM(POW(CAST(o AS DOUBLE) - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                     / (CAST(row_tot AS DOUBLE) * col_tot / n))
                 + (CAST(ANY_VALUE(n) AS DOUBLE)
                    - SUM(CAST(row_tot AS DOUBLE) * col_tot / n)), 6) AS chi2,
           CAST((ANY_VALUE(ra) - 1) * (ANY_VALUE(cb) - 1) AS BIGINT) AS dof
    FROM cells
    """


def anova_oneway_df(df: DataFrame, value: str, group: str, scale: int = 4) -> DataFrame:
    """M5 as a DataFrame: one-way ANOVA F statistic via exact group sums.

    SSB = Σ n_g (m_g - m)², SSW = Σ (x - m_g)² — both derivable from
    per-group (n, Σx, Σx²) in decimal, so the double math is deterministic.
    """
    g = (
        df.filter(F.col(value).isNotNull())
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum(dec(value, 38, scale)).cast("double").alias("s_g"),
            F.sum(dec(value, 18, scale // 2) * dec(value, 18, scale // 2))
            .cast("double")
            .alias("ss_g"),
        )
    )
    agg = g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sum_sg2_ng"),
    )
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    ssb = F.col("sum_sg2_ng") - F.col("s") * F.col("s") / n
    ssw = F.col("ss") - F.col("sum_sg2_ng")
    fstat = (ssb / (k - 1)) / (ssw / (n - k))
    return agg.select(
        round6(ssb).alias("ss_between"),
        round6(ssw).alias("ss_within"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        round6(fstat).alias("f_stat"),
    )


def anova_oneway_oracle_sql(table: str, value: str, group: str, scale: int = 4) -> str:
    return f"""
    WITH g AS (
      SELECT {group} AS grp, COUNT(*) AS n_g,
             CAST(SUM(CAST({value} AS DECIMAL(38,{scale}))) AS DOUBLE) AS s_g,
             CAST(SUM(CAST({value} AS DECIMAL(18,{scale//2})) * CAST({value} AS DECIMAL(18,{scale//2}))) AS DOUBLE) AS ss_g
      FROM {table} WHERE {value} IS NOT NULL GROUP BY 1),
    a AS (
      SELECT SUM(n_g) AS n, COUNT(*) AS k, SUM(s_g) AS s, SUM(ss_g) AS ss,
             SUM(s_g * s_g / n_g) AS sum_sg2_ng
      FROM g)
    SELECT ROUND(sum_sg2_ng - s * s / CAST(n AS DOUBLE), 6) AS ss_between,
           ROUND(ss - sum_sg2_ng, 6) AS ss_within,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           ROUND(((sum_sg2_ng - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
                 / ((ss - sum_sg2_ng) / (CAST(n AS DOUBLE) - k)), 6) AS f_stat
    FROM a
    """
