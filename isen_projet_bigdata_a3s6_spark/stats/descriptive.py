"""Covariance / correlation matrices as aggregations (SURVEY §2.11 M1/M2).

Reference: ``cov(vars, use="complete.obs")`` and ``cor(...)`` over 4 numeric
columns (R_groupe4.R:799-818). complete-obs = drop rows with ANY null among
the selected columns, then one pass of moment sums.

Implementation detail that matters for both the oracle gate and 100 TB
reproducibility: all moment sums run in DECIMAL (exact, associative), the
final cov/corr arithmetic is a handful of double ops on the single
aggregate row — so results are bit-identical across partitionings and match
DuckDB exactly, unlike a plain double ``corr()`` whose accumulation order
varies run-to-run.

One aggregation computes every requested pair: p sums + p(p+1)/2 cross
sums in a single ``agg`` — one scan, map-side combined, no shuffle beyond
the final single-row reduce.
"""

from __future__ import annotations

from itertools import combinations_with_replacement

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import dec


def _moment_aggs(cols: list[str], scale: int = 8):
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(c, 38, scale)).cast("double").alias(f"s_{c}"))
    for a, b in combinations_with_replacement(cols, 2):
        aggs.append(
            F.sum(dec(a, 18, scale // 2) * dec(b, 18, scale // 2))
            .cast("double")
            .alias(f"s_{a}__{b}")
        )
    return aggs


def pairwise_stats_df(df: DataFrame, pairs: list[tuple[str, str]], scale: int = 4) -> DataFrame:
    """M1/M2 as a DataFrame (oracle-checkable): one row per column pair with
    exact-arithmetic sample covariance and Pearson r, round6'd.

    The SQL twin uses the same n/S_x/S_y/S_xx/S_yy/S_xy formula so both
    engines do identical double arithmetic on identical exact sums.
    """
    from ..functions.scalar import round_disp

    cols = sorted({c for p in pairs for c in p})
    # decimal cross-product sums are CPU-heavy: spread the partial
    # aggregation across cores (single-row-group files scan as one task)
    par = df.sparkSession.sparkContext.defaultParallelism
    clean = df.select(*cols).dropna(subset=cols).repartition(par)
    agg = clean.agg(*_moment_aggs(cols, scale=scale))
    # ONE aggregation pass; the per-pair rows come from exploding an array
    # of structs over the single aggregate row (a union of per-pair selects
    # would re-scan and re-aggregate once per pair)
    pair_structs = []
    for a, b in pairs:
        key = f"s_{a}__{b}" if a <= b else f"s_{b}__{a}"
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        saa, sbb, sab = F.col(f"s_{a}__{a}"), F.col(f"s_{b}__{b}"), F.col(key)
        cov = (sab - sa * sb / n) / (n - F.lit(1.0))
        corr = (n * sab - sa * sb) / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        pair_structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                # round_disp: cov/corr are signed — a tiny negative must
                # not round to -0.0 on one engine only (q43 convention)
                round_disp(cov, 6).alias("cov_samp"),
                round_disp(corr, 6).alias("pearson_r"),
            )
        )
    return agg.select(F.explode(F.array(*pair_structs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.cov_samp", "p.pearson_r"
    )


def pairwise_stats_oracle_sql(table: str, pairs: list[tuple[str, str]], scale: int = 4) -> str:
    """DuckDB twin of :func:`pairwise_stats_df`."""
    cols = sorted({c for p in pairs for c in p})
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sums = [f"COUNT(*) AS n"]
    for c in cols:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(38,{scale}))) AS DOUBLE) AS s_{c}")
    for a, b in combinations_with_replacement(cols, 2):
        sums.append(
            f"CAST(SUM(CAST({a} AS DECIMAL(18,{scale//2})) * CAST({b} AS DECIMAL(18,{scale//2}))) AS DOUBLE) AS s_{a}__{b}"
        )
    selects = []
    for a, b in pairs:
        key = f"s_{a}__{b}" if a <= b else f"s_{b}__{a}"
        selects.append(
            f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
            ROUND(({key} - s_{a} * s_{b} / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 6) + 0e0 AS cov_samp,
            ROUND((CAST(n AS DOUBLE) * {key} - s_{a} * s_{b})
                  / SQRT((CAST(n AS DOUBLE) * s_{a}__{a} - s_{a} * s_{a}) * (CAST(n AS DOUBLE) * s_{b}__{b} - s_{b} * s_{b})), 6) + 0e0 AS pearson_r
            FROM m"""
        )
    union = "\nUNION ALL\n".join(selects)
    return f"WITH m AS (SELECT {', '.join(sums)} FROM {table} WHERE {notnull})\n{union}"
