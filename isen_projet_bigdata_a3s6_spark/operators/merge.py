"""MERGE / upsert emulation (no Delta/Iceberg jars in this image — the
same logic those formats run, expressed as anti-join + union, per the
standard emulation pattern).

Scale posture: one shuffle on the merge key for the anti-join; the updates
side is usually small → broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """MERGE: rows from ``updates`` replace same-key rows in ``target``;
    unmatched update rows are inserted. (WHEN MATCHED UPDATE + WHEN NOT
    MATCHED INSERT with whole-row semantics.)"""
    keys = [key] if isinstance(key, str) else list(key)
    kept = target.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)


def merge_partition_overwrite(
    updates: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Incremental MERGE against a hive-partitioned parquet table: with
    dynamic partition-overwrite, ONLY the partition directories present in
    ``updates`` are replaced — untouched partitions' files are not
    rewritten or even listed. This is the idempotent backfill/late-data
    primitive for a 100 TB partitioned fact table: rewrite cost is
    O(changed partitions), never O(table).

    The config flip is scoped and restored (session configs are global on a
    shared SparkSession).
    """
    spark = updates.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        updates.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)
