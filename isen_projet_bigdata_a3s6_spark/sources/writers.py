"""Sinks (SURVEY §2.1 S2).

Reference: one ``write.csv(..., row.names=FALSE)`` at R_groupe4.R:1074.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """S2: CSV sink. ``single_file=True`` gives the reference's one-file
    output via coalesce(1) — fine for small exports, never at 100 TB
    (serializes the write through one task)."""
    out = df.coalesce(1) if single_file else df
    out.write.option("header", "true").mode(mode).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S2: JSON-lines sink (interchange format; schema-on-read downstream).
    Timestamps serialize as ISO-8601 in the session timezone — pin UTC for
    cross-engine round-trips."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S2: ORC sink — columnar with the same pushdown/pruning properties as
    parquet (type-exact round trip, unlike CSV/JSON)."""
    df.write.mode(mode).orc(path)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    range_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Scan-optimized layout for append-heavy fact tables: hive-style
    partition directories on ``partition_by`` (coarse pruning — a reader
    filter on those columns skips whole directories), files range-clustered
    on ``range_cols`` (``repartitionByRange``) and row-sorted on
    ``sort_cols`` so min/max footer stats make within-partition row-group
    skipping effective — the parquet-native analog of a Z-order/cluster-by
    maintenance job, and the default layout a 100 TB event table should be
    written in."""
    out = df.repartitionByRange(*range_cols)
    out = out.sortWithinPartitions(*(sort_cols or range_cols))
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: later equi-joins/aggregations on
    ``bucket_cols`` read co-located buckets and skip the shuffle entirely —
    the 100 TB answer for repeatedly-joined fact tables. (Requires a
    catalog; bucketing metadata doesn't survive in plain parquet paths.)

    Overwrite also clears a stale warehouse directory left by a previous
    session: the in-memory catalog forgets the table on restart but its
    files persist, and saveAsTable refuses the orphaned location."""
    if mode == "overwrite":
        import os
        import shutil
        from urllib.parse import urlparse

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
        wh = urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        ).path or "spark-warehouse"
        loc = os.path.join(wh, table_name.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc)
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def zorder_key2(col_a, col_b, bits: int = 16):
    """Morton (Z-order) key of two non-negative int columns: interleave the
    low ``bits`` bits of each — rows close in BOTH dimensions get close
    keys, so range-clustering on the key gives row-group locality (and
    min/max skipping) for 2-D predicates. Pure shift/and/or expression
    tree, fully codegen'd. Values must fit in ``bits`` bits (the writer
    validates)."""
    from pyspark.sql import functions as F

    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            .bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return key


def write_zordered(
    df,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    mode: str = "overwrite",
    normalize: bool = False,
) -> None:
    """Write parquet files range-clustered + sorted on the 2-D Morton key
    of (col_a, col_b): the multi-dimensional analog of
    :func:`write_clustered` — a reader filtering on EITHER or BOTH columns
    skips most row groups via footer min/max stats, where a 1-D sort only
    helps its leading column.

    ``normalize=False`` (raw mode) interleaves the values themselves and
    raises if any exceeds ``bits`` bits (the interleave would alias
    distinct values) — only usable when the caller KNOWS the domain.
    ``normalize=True`` is the scale-true mode: one min/max aggregate per
    column maps each dimension onto 2^bits equal-width range buckets and
    interleaves the bucket indices — works for EVERY int64 domain (the raw
    mode's guard fires at production id ranges, e.g. partkeys past 2^21;
    caught by the sf1 upscale smoke). Bucket aliasing is harmless here:
    the z-key exists only to ORDER the written row stream and is dropped
    before the write, so coarser buckets mean coarser clustering, never
    data change. The delta/step arithmetic runs in DECIMAL(38,0) so
    min-to-max spans wider than int64 can't overflow."""
    from pyspark.sql import functions as F

    limit = 1 << bits
    if normalize:
        mns = df.agg(
            F.min(col_a).alias("na"), F.max(col_a).alias("xa"),
            F.min(col_b).alias("nb"), F.max(col_b).alias("xb"),
        ).first()
        if mns is None or mns["na"] is None or mns["nb"] is None:
            # empty frame, or a coordinate column that is ALL NULL (min/max
            # of an all-NULL col is None — int(None) would raise): no usable
            # z domain, degrade to the plain unordered write
            df.write.mode(mode).parquet(path)
            return
        def bucket(col: str, mn: int, mx: int):
            step = (int(mx) - int(mn)) // limit + 1  # python bigint: exact
            return F.floor(
                (F.col(col).cast("decimal(38,0)") - F.lit(int(mn))) / F.lit(step)
            ).cast("long")
        za = bucket(col_a, mns["na"], mns["xa"])
        zb = bucket(col_b, mns["nb"], mns["xb"])
        out = (
            df.withColumn("__za", za)
            .withColumn("__zb", zb)
            # rows with a NULL coordinate get an explicit z-key of -1 (below
            # every real Morton key, which is ≥ 0): they cluster together in
            # the FIRST range partition instead of riding Spark's implicit
            # nulls-first ordering — deterministic, documented placement
            .withColumn(
                "__z", F.coalesce(zorder_key2("__za", "__zb", bits), F.lit(-1))
            )
            .repartitionByRange("__z")
            .sortWithinPartitions("__z")
            .drop("__z", "__za", "__zb")
        )
        out.write.mode(mode).parquet(path)
        return
    bad = df.filter(
        (F.col(col_a) < 0) | (F.col(col_a) >= limit)
        | (F.col(col_b) < 0) | (F.col(col_b) >= limit)
    ).limit(1).count()
    if bad:
        raise ValueError(
            f"write_zordered: {col_a}/{col_b} exceed {bits}-bit range [0, {limit})"
        )
    out = (
        df.withColumn("__z", zorder_key2(col_a, col_b, bits))
        .repartitionByRange("__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    # recompute inside the sorted frame is avoided by sorting before drop:
    # parquet row groups inherit the z order of the written row stream
    out.write.mode(mode).parquet(path)
