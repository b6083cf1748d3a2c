"""Window-function operators (SURVEY §2.6, §2.7; extensions per §2.6 note).

The reference uses windows only implicitly (group-wise fills, top-1 per
group). The engine exposes the full surface — ranking, lag/lead, running
aggregates, sessionization — exercised by the oracle suite over ``events``.

Scale: a window = one shuffle on partitionBy keys + per-partition sort.
Sessionization is the lag→cumsum composition (two passes over one
partitioning, no self-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def with_lag(df: DataFrame, col: str, partition_by: list[str], order_by: list[Column], offset: int = 1, name: str | None = None) -> DataFrame:
    w = W.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(name or f"{col}_lag{offset}", F.lag(col, offset).over(w))


def with_running_sum(df: DataFrame, col: str, partition_by: list[str], order_by: list[Column], name: str | None = None) -> DataFrame:
    w = (
        W.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(name or f"{col}_running", F.sum(col).over(w))


def with_ntile(df: DataFrame, n: int, order_by: list[Column], partition_by: list[str] | None = None, name: str = "bucket") -> DataFrame:
    """NTILE bucketing (equal-frequency bins). Unpartitioned NTILE serializes
    through one reducer — fine for report shapes; for 100 TB equal-frequency
    binning use approx quantile cutpoints + a map-side bucket join instead."""
    w = W.partitionBy(*(partition_by or [])).orderBy(*order_by)
    return df.withColumn(name, F.ntile(n).over(w))


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the previous
    event of the same user exceeds ``gap_seconds``. lag → boolean → running
    sum, all over one (user, ts) partitioning/sort. Pass ``tiebreak`` columns
    for a total order when timestamps can collide."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = W.partitionBy(user_col).orderBy(*order)
    # microsecond precision: a cast-to-long would truncate to seconds and
    # misclassify sub-second gaps straddling the threshold
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        session_col, F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, 0))
    ).drop("__new")


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    suffix: str = "_cum",
) -> DataFrame:
    """Globally-ordered running sums WITHOUT a single-reducer window.

    An unpartitioned ``Window.orderBy(...)`` funnels every row through one
    task — the classic scale-killer for CDF/rank shapes. This is the
    textbook two-phase parallel prefix scan instead:

      1. ``repartitionByRange(order_col)`` — each partition holds a
         contiguous key range (one shuffle, same cost the single-reducer
         plan pays anyway);
      2. per-partition running sums via a window PARTITIONED by the
         materialized ``spark_partition_id`` (parallel across partitions);
      3. per-partition totals (|partitions| rows) get their own tiny
         cumulative offset, broadcast-joined back and added.

    Requires ``order_col`` values to be UNIQUE rows (aggregate to distinct
    keys first — CDF/rank callers already do): equal keys straddling a
    range boundary would otherwise make per-row prefixes depend on
    partition placement.

    Result is partitioning-independent, so the downstream hash is stable
    even though range boundaries come from sampling.

    The ``part`` frame is consumed by BOTH the per-partition window and
    the totals aggregate; their ``__pid`` values must come from the SAME
    range exchange (two independently-sampled exchanges could draw
    different boundaries, silently mismatching offsets). Exchange reuse
    normally guarantees that, but it is a fragile optimizer property
    (``spark.sql.exchange.reuse=false``, a cache on one branch); the lazy
    persist pins one materialization regardless — the q38 lazy-persist
    convention, cleared by bench/cut_lineage hygiene.
    """
    part = df.repartitionByRange(F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    part = part.persist()
    w = (
        W.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = part.select(
        "*", *[F.sum(c).over(w).alias(f"{c}__local") for c in sum_cols]
    )
    totals = part.groupBy("__pid").agg(
        *[F.sum(c).alias(f"{c}__tot") for c in sum_cols]
    )
    # offsets: cumulative total of PRECEDING partitions (|partitions| rows —
    # the tiny single-reducer window here is over ~hundreds of rows, not data)
    offsets = totals.select(
        "__pid",
        *[
            (F.sum(f"{c}__tot").over(W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)))
            .alias(f"{c}__off")
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "__pid")
    for c in sum_cols:
        out = out.withColumn(
            f"{c}{suffix}",
            F.col(f"{c}__local") + F.coalesce(F.col(f"{c}__off"), F.lit(0)),
        )
    drop = ["__pid"] + [f"{c}__local" for c in sum_cols] + [f"{c}__off" for c in sum_cols]
    return out.drop(*drop)


def global_midranks(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Attach the DOUBLED tie-midrank ``2r = 2·c_less + c_eq + 1`` of
    ``value_col`` to every row, without a single-reducer window and
    without the distinct-value detour (r12, for the Spearman shape).

    The pre-r12 rank attachment reduced to distinct values, ran
    :func:`global_prefix_sum` over them, and equi-joined midranks back to
    the fact rows — three data-sized exchanges (groupBy, range
    repartition, join-back). This computes the same 2r with ONE range
    exchange of the fact rows: per-partition ``rank() − 1`` counts the
    strictly-smaller rows inside the partition, a per-tie-group window
    count gives ``c_eq``, and |partitions|-row cumulative offsets
    (broadcast back) lift the local counts to global ones. Equal values
    co-locate under ``repartitionByRange`` (the range partitioner assigns
    by key comparison), so tie groups never straddle a boundary.

    Equality/order semantics match the groupBy+equi-join path exactly:
    float columns are normalized with ``when(v == 0.0, 0.0)`` before
    ranking, because grouping and join keys canonicalize −0.0 to 0.0
    (SPARK-32110) while the sort comparator orders −0.0 < 0.0 — without
    the normalization a mixed ±0.0 tie group would split. NaNs sort
    together and group together on both paths; NULLs sort first and are
    ranked (they contribute to every c_less, exactly as the NULL group's
    count flowed through the old prefix scan) — callers that dropped
    NULL rows via the equi-join must filter them explicitly.

    The ``part`` frame feeds both the local windows and the offset
    totals; the lazy persist pins one range materialization (the
    global_prefix_sum convention — two independently-sampled range
    exchanges could draw different boundaries).

    SKEW CONTRACT: because equal values co-locate, one dominant value
    lands its whole tie group in one partition and the per-partition rank
    window serializes on it. Use this only for near-unique columns (max
    tie group ≪ rows/partitions, e.g. q260's price); a column with few
    distinct values belongs on the distinct-table path (groupBy counts →
    :func:`global_prefix_sum` → join back), as q260 does for quantity."""
    dt = dict(df.dtypes)[value_col]
    v = F.col(value_col)
    key = F.when(v == 0.0, F.lit(0.0).cast(dt)).otherwise(v) if dt in (
        "double", "float"
    ) else v
    keyed = df.withColumn("__key", key)
    part = (
        keyed
        .repartitionByRange(F.col("__key"))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    w_ord = W.partitionBy("__pid").orderBy("__key")
    local = part.select(
        "*",
        (F.rank().over(w_ord) - 1).alias("__less_loc"),
        F.count(F.lit(1)).over(W.partitionBy("__pid", "__key")).alias("__eq"),
    )
    totals = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__tot"))
    offsets = totals.select(
        "__pid",
        F.sum("__tot")
        .over(W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1))
        .alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            (
                2 * (F.coalesce(F.col("__off"), F.lit(0)) + F.col("__less_loc"))
                + F.col("__eq")
                + 1
            ).cast("long"),
        )
        .drop("__pid", "__key", "__less_loc", "__eq", "__off")
    )


def global_running(
    df: DataFrame,
    order_exprs: list[Column],
    sum_cols: list[str] | tuple[str, ...] = (),
    rank_col: str | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Globally-ordered running sums and/or row_number over a COMPOSITE
    (multi-column, mixed asc/desc) total order, without a single-reducer
    window — the generalization of :func:`global_prefix_sum` the
    Pareto/Zipf/ABC rank shapes need (order by ``revenue DESC, key``).

    An unpartitioned ``Window.orderBy(...)`` funnels every row through one
    task. That is survivable over calendar-bounded frames (q114's days),
    but the |vocabulary|- and |parts|-sized frames these rank shapes run
    on reach 10^8-10^9 rows at the 100 TB scale point. Same two-phase
    scan as global_prefix_sum:

      1. ``repartitionByRange(*order_exprs)`` — contiguous key ranges,
         sort directions honored (partition 0 holds the globally-first
         rows of the requested order);
      2. per-partition running sums / row_numbers via a window
         PARTITIONED by the materialized ``spark_partition_id``;
      3. |partitions|-row totals get a tiny cumulative offset,
         broadcast-joined back.

    Requirements, as global_prefix_sum: the composite ``order_exprs`` must
    be a TOTAL order (unique per row — every caller orders by
    (measure, unique_key)), and the lazy persist pins ONE range exchange
    so both consumers see identical sampled boundaries.

    ``order_exprs`` are Column sort expressions (``F.desc("rev")``,
    ``F.col("k")``); ``rank_col`` names an optional 1-based global
    row_number output column.
    """
    part = df.repartitionByRange(*order_exprs).withColumn(
        "__pid", F.spark_partition_id()
    )
    part = part.persist()
    w_rows = (
        W.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    proj = [F.sum(c).over(w_rows).alias(f"{c}__local") for c in sum_cols]
    if rank_col:
        proj.append(
            F.row_number()
            .over(W.partitionBy("__pid").orderBy(*order_exprs))
            .alias("__rn_local")
        )
    local = part.select("*", *proj)
    aggs = [F.sum(c).alias(f"{c}__tot") for c in sum_cols]
    if rank_col:
        aggs.append(F.count(F.lit(1)).alias("__cnt__tot"))
    totals = part.groupBy("__pid").agg(*aggs)
    # offsets: cumulative totals of PRECEDING partitions (|partitions|
    # rows — this single-reducer window is over ~hundreds of rows)
    w_off = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    off_proj = [
        F.sum(f"{c}__tot").over(w_off).alias(f"{c}__off") for c in sum_cols
    ]
    if rank_col:
        off_proj.append(F.sum("__cnt__tot").over(w_off).alias("__cnt__off"))
    offsets = totals.select("__pid", *off_proj)
    out = local.join(F.broadcast(offsets), "__pid")
    drop = ["__pid"]
    for c in sum_cols:
        out = out.withColumn(
            f"{c}{suffix}",
            F.col(f"{c}__local") + F.coalesce(F.col(f"{c}__off"), F.lit(0)),
        )
        drop += [f"{c}__local", f"{c}__off"]
    if rank_col:
        out = out.withColumn(
            rank_col,
            (
                F.col("__rn_local")
                + F.coalesce(F.col("__cnt__off"), F.lit(0))
            ).cast("long"),
        )
        drop += ["__rn_local", "__cnt__off"]
    return out.drop(*drop)


def rate_limit(df: DataFrame, limit: int = 3) -> DataFrame:
    """Per-(user, hour) feed throttle: the first ``limit`` events by
    (ts, event_id) — one window shuffle (WindowGroupLimit pushes the filter
    down)."""
    return (
        df.select(
            "user_id", F.date_trunc("hour", "ts").alias("hour"), "event_id", "ts"
        )
        .withColumn("__rn", F.row_number().over(
            W.partitionBy("user_id", "hour").orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ))
        .filter(F.col("__rn") <= limit)
        .drop("__rn")
    )
