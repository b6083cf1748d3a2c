"""Cleaning operators (SURVEY §2.2 P1-P11, §2.3 F1-F7, §2.6 W1-W4).

Reference Part 1 (R_groupe4.R:38-209): dedup → null-drops → rewrites →
imputation. The 13 sequential ``filter(!is.na(col))`` passes
(R_groupe4.R:55-70) become ONE ``dropna`` — Catalyst collapses it into a
single scan-level filter pushed into parquet.

Scale notes: every fill here is either a pure map (fillna, caps) or one
window/aggregation shuffle on the group key; nothing is quadratic. The
keep-first dedup needs a stable order column — at scale that is an ingest
timestamp / file offset column, never ``monotonically_increasing_id``
recomputed per run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalar import empty_to_null


def blank_strings_to_null(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """C1 applied whole-table (R_groupe4.R:45-46): ''/whitespace → NULL on
    every string column. One map pass, no shuffle."""
    targets = cols or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    return df.withColumns({c: empty_to_null(c) for c in targets})


def distinct_rows(df: DataFrame) -> DataFrame:
    """F1: full-row distinct (R_groupe4.R:49) — hash aggregate on all cols."""
    return df.distinct()


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """F2: keyed dedup keeping the FIRST row per key in ``order_by`` order
    (R ``!duplicated(...)`` keeps first occurrence, R_groupe4.R:52).

    ``order_by`` must give a total order within a key for determinism.
    One shuffle on ``keys``.

    r12 shape: ``min_by(struct(payload), struct(order_by))`` aggregation
    instead of a window ``row_number`` — the aggregate PARTIALLY
    aggregates map-side (guide §2.3: the shuffle carries ≤ one row per
    (mapper, key) instead of every duplicate) and drops the window's
    per-partition sort. Keep-first semantics are identical under the
    total-order contract: struct ordering is field-lexicographic with
    NULL fields FIRST — the same null placement as the window's default
    ``asc`` (nulls first) — pinned in tests/test_round12_opt.py,
    including NULL keys (both paths group them together).

    FLOAT-typed KEY caveat (SPARK-32110): groupBy canonicalizes float
    grouping keys in the OUTPUT (−0.0 → 0.0, all NaN bit patterns → one
    canonical NaN), whereas the old window path returned the surviving
    row's original key bytes. Observable only for float/double keys —
    none of the engine's callers key on floats; pinned in
    tests/test_round13_opt.py."""
    rest = [c for c in df.columns if c not in keys]
    first = F.min_by(
        F.struct(*[F.col(c) for c in rest]),
        F.struct(*[F.col(c) for c in order_by]),
    ).alias("__first")
    out = df.groupBy(*[F.col(k) for k in keys]).agg(first)
    return out.select(
        *[
            F.col(c) if c in keys else F.col(f"__first.{c}").alias(c)
            for c in df.columns
        ]
    )


def drop_null_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """F3: the 13-filter null-drop chain (R_groupe4.R:55-70) as one filter."""
    return df.dropna(subset=cols)


def fill_string_nulls(df: DataFrame, value: str, cols: list[str] | None = None) -> DataFrame:
    """W4: global string-null fill (``"Inconnue"``, R_groupe4.R:209)."""
    targets = cols or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    return df.fillna(value, subset=targets)


def groupwise_first_fill(
    df: DataFrame, col: str, group_col: str, ignore_nulls: bool = True
) -> DataFrame:
    """W1/W2: fill NULLs with the group's first value (R_groupe4.R:181-190).

    ``ignore_nulls=True`` = W1 (``first(na.omit(x))``); ``False`` = W2 — the
    reference's fk_situation fill, where a NULL-first group fills NULL.
    W2's 'first' is row-order dependent in R; documented as any-value
    semantics here (Spark window order within a partition without orderBy
    is arbitrary too — parity of *kind*, not of row identity).
    """
    w = W.partitionBy(group_col)
    fill = F.first(F.col(col), ignorenulls=ignore_nulls).over(w)
    return df.withColumn(col, F.coalesce(F.col(col), fill))


def groupwise_mode_fill(
    df: DataFrame, col: str, group_col: str, default: str
) -> DataFrame:
    """W3: fill NULLs with the group's modal value, residual NULLs → literal
    default (R_groupe4.R:194-205, default "AUTRE").

    mode-per-group is computed on the aggregate side and broadcast back —
    the join's right side is |groups| rows, so Catalyst broadcasts it
    (never a shuffle of the fact table at 100 TB).
    """
    from .aggregations import mode_per_group

    modes = mode_per_group(df.filter(F.col(col).isNotNull()), group_col, col, "__mode")
    return (
        df.join(modes, group_col, "left")
        .withColumn(col, F.coalesce(F.col(col), F.col("__mode"), F.lit(default)))
        .drop("__mode")
    )


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    partition_by: list[str],
    out_col: str | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-weighted linear interpolation of NULL gaps per key — the
    time-series imputation step beyond the reference's fill family (W1-W4):
    a NULL between two observed values gets
    ``prev + (next − prev) · (t − t_prev)/(t_next − t_prev)``; leading/
    trailing NULLs fall back to the nearest observed value (bfill/ffill);
    all-NULL partitions stay NULL.

    One shuffle + one sort: both the previous and the next observation are
    window functions over the same (key, ts) partitioning —
    ``last(..., ignorenulls)`` over the preceding frame, ``first`` over the
    following frame, each paired with its timestamp through the same
    NULL-gated expression so value and time always come from one row.
    Micros are exact in double below 2^53, so the blend is bit-deterministic
    for any engine evaluating the same expression."""
    out_col = out_col or value_col
    v = F.col(value_col)
    tsu = F.unix_micros(F.col(ts_col))
    # tiebreak makes the ROWS frames total-order deterministic when
    # timestamps can collide within a key
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    before = (
        W.partitionBy(*partition_by).orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    )
    after = (
        W.partitionBy(*partition_by).orderBy(*order).rowsBetween(1, W.unboundedFollowing)
    )
    obs_v = F.when(v.isNotNull(), v)
    obs_t = F.when(v.isNotNull(), tsu)
    prev_v = F.last(obs_v, ignorenulls=True).over(before)
    prev_t = F.last(obs_t, ignorenulls=True).over(before)
    next_v = F.first(obs_v, ignorenulls=True).over(after)
    next_t = F.first(obs_t, ignorenulls=True).over(after)
    frac = (tsu - prev_t) / (next_t - prev_t)
    filled = (
        F.when(v.isNotNull(), v)
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
        .when(prev_v.isNotNull(), prev_v)
        .otherwise(next_v)
    )
    return df.withColumn(out_col, filled)
