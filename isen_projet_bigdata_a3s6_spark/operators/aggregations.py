"""Aggregation operators (SURVEY §2.5 A1-A11, §2.7 O1).

Reference shapes: ungrouped mean/median/quantile/IQR (R_groupe4.R:213-228),
grouped means (R_groupe4.R:231-246), grouped stats bundles
(R_groupe4.R:249-272), grouped counts (R_groupe4.R:194-196,627-629,677-679,
720-722), per-group mode (R_groupe4.R:197-198), crosstabs
(R_groupe4.R:880-894,1010-1011).

Physical posture: everything here is two-phase hash aggregation
(partial map-side combine → single shuffle on the group key → final) —
the shape that scales linearly to 100 TB. Exact percentiles use a
sort-based aggregate; at scale flip ``exact=False`` for the sketch-based
``percentile_approx`` (single pass, mergeable, no sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import dec_avg, round6


def percentile(col: str, p: float, exact: bool = True) -> Column:
    """A2/A5: exact `percentile` (linear interpolation, matches R type-7 /
    DuckDB quantile_cont) or mergeable `percentile_approx` at scale."""
    if exact:
        return F.expr(f"percentile({col}, {p})")
    return F.percentile_approx(col, p)


def summary_stats(
    df: DataFrame,
    value_col: str,
    group_by: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """A1/A2/A5: the reference's stats bundle — mean, median, p25/p75, IQR,
    min, max, count — ungrouped (R_groupe4.R:213-228) or grouped
    (R_groupe4.R:249-272). Column names are the oracle contract."""
    p25 = percentile(value_col, 0.25, exact)
    p75 = percentile(value_col, 0.75, exact)
    aggs = [
        dec_avg(value_col).alias("mean_val"),
        round6(percentile(value_col, 0.5, exact)).alias("median_val"),
        round6(p25).alias("p25"),
        round6(p75).alias("p75"),
        round6(p75 - p25).alias("iqr"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
        F.count(value_col).alias("n"),
    ]
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    return grouped.agg(*aggs)


def group_count(df: DataFrame, group_by: list[str], count_name: str = "n") -> DataFrame:
    """A6/A11: grouped count — the shape behind all 22 reference bar charts."""
    return df.groupBy(*group_by).agg(F.count(F.lit(1)).alias(count_name))


def mode_per_group(
    df: DataFrame, group_col: str, value_col: str, out_name: str = "mode_val"
) -> DataFrame:
    """A7/W3/O1: most frequent value per group (R_groupe4.R:194-198).

    count per (group, value) → row_number over desc(count) with the value
    itself as deterministic tiebreak (the reference's ``slice(1)`` keeps
    dplyr's arbitrary-but-stable first; we pin ties explicitly).
    One shuffle on (group, value), one on group — both map-side combined.
    """
    counts = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc(value_col))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(group_col), F.col(value_col).alias(out_name))
    )


def crosstab_long(df: DataFrame, a: str, b: str, count_name: str = "n") -> DataFrame:
    """A8: two-column contingency counts in long form (R ``table(a,b)``,
    R_groupe4.R:880-894). Long form scales (pivot materializes b's domain
    as columns — only safe for low cardinality)."""
    return df.groupBy(a, b).agg(F.count(F.lit(1)).alias(count_name))


def crosstab_pivot(df: DataFrame, a: str, b: str, values: list[str] | None = None) -> DataFrame:
    """A8 matrix form: pivot — pass ``values`` to skip the extra distinct-scan."""
    piv = df.groupBy(a).pivot(b, values) if values else df.groupBy(a).pivot(b)
    return piv.count().fillna(0)


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """O1 global top-k → physical ``TakeOrderedAndProject`` (no full sort:
    each partition keeps k, driver merges k·p rows)."""
    return df.orderBy(*order_cols).limit(k)


def top_k_per_group(
    df: DataFrame, group_by: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """O1 grouped top-k: rank inside each partition of one shuffle.
    Include a unique tiebreak in ``order_cols`` for determinism."""
    w = W.partitionBy(*group_by).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_per_group_salted(
    df: DataFrame,
    group_by: list[str],
    order_cols: list[Column],
    k: int,
    salt_from: list[str],
    salt_buckets: int = 32,
) -> DataFrame:
    """Skew-safe grouped top-k. The plain window form funnels EVERY row of a
    hot group through one reducer's sort; here stage 1 ranks inside
    (group, salt) — spreading a hot group over ``salt_buckets`` reducers and
    keeping ≤ k rows per bucket — and stage 2 ranks the surviving
    ``k·buckets`` candidates per group. Same result set as
    :func:`top_k_per_group` for any total ``order_cols`` ordering; the
    stage-2 input is tiny regardless of skew.

    Salt is content-derived (xxhash64 of ``salt_from``), so it is
    deterministic under retry/repartition, unlike ``F.rand``.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(salt_buckets))
    w1 = W.partitionBy(*group_by, "__salt").orderBy(*order_cols)
    w2 = W.partitionBy(*group_by).orderBy(*order_cols)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= k)
        .drop("__salt", "__rn", "__rn2")
    )


def histogram_fixed(
    df: DataFrame,
    col: str,
    lo: float,
    width: float,
    name: str = "bucket",
) -> DataFrame:
    """Fixed-width histogram: bucket = floor((x − lo) / width), counted per
    bucket. A pure map expression + one two-phase count — the scalable
    histogram (equal-frequency binning needs quantiles; this needs nothing).
    ``lo``/``width`` must be exactly-representable doubles for cross-engine
    bit determinism of the floor."""
    b = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("long")
    return (
        df.select(b.alias(name))
        .groupBy(name)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def count_distinct_two_stage(
    df: DataFrame, group_by: list[str], distinct_col: str, name: str | None = None
) -> DataFrame:
    """Exact per-group COUNT(DISTINCT x), skew-safe: stage 1 dedups on
    (group, x) — the shuffle key carries the distinct value, so a hot group
    spreads over the whole cluster instead of collapsing onto one reducer —
    stage 2 counts the surviving singletons per group. Equivalent to
    ``countDistinct`` but with the two-shuffle shape that survives a 100 TB
    hot key; use the HLL sketch (``approx_count_distinct``) when exactness
    isn't required."""
    return (
        df.select(*group_by, distinct_col)
        .distinct()
        .groupBy(*group_by)
        .agg(F.count(F.lit(1)).alias(name or f"n_{distinct_col}"))
    )
