"""Streaming incremental upsert via ``foreachBatch`` — the production
pattern for maintaining a keyed state table (latest-row-per-key) off a
stream: each micro-batch is first reduced to one row per key, then MERGEd
into the durable store. State lives in the table, not in Spark's state
store, so it survives restarts and is queryable mid-stream.

Scale posture: the per-batch reduce is a narrow aggregate over the batch
(small); the merge cost is O(|store| + |batch|) here because the demo store
is a plain parquet folder rewritten per batch — on a real 100 TB deployment
the store is Delta/Iceberg (MERGE INTO touches only matching files) or a
partitioned layout via :func:`operators.merge.merge_partition_overwrite`,
with identical logic.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir


def latest_per_key(
    df: DataFrame, key: str = "user_id", ts: str = "ts", tiebreak: str = "event_id"
) -> DataFrame:
    """Reduce to the latest row per key: max_by on (event time, tiebreak).

    The composite ordering key matters twice: same-timestamp rows (real
    feeds have them — clock granularity, batched emitters) get a
    DETERMINISTIC winner, and every per-column ``max_by`` agrees on the
    SAME winning row — a bare ``max_by(c, ts)`` under ties may stitch its
    output from different rows (column A from one event, column B from
    another), a row that never existed. Packed-decimal key (not a struct)
    keeps the reduce on the hash-aggregate path — see
    ``functions.scalar.event_order_key``."""
    from ..functions.scalar import event_order_key

    tie = tiebreak if tiebreak in df.columns else None
    ordk = event_order_key(ts, tie) if tie else F.col(ts)
    others = [c for c in df.columns if c not in (key, ts)]
    return df.groupBy(key).agg(
        F.max(ts).alias(ts),
        *[F.max_by(c, ordk).alias(c) for c in others],
    )


def streaming_latest_state(
    spark: SparkSession,
    parquet_path: str,
    key: str = "user_id",
    ts: str = "ts",
    n_source_files: int = 4,
    timeout_sec: int = 120,
) -> DataFrame:
    """Drive a file-source stream through foreachBatch upserts into a
    parquet state store (one micro-batch per source file via
    maxFilesPerTrigger=1, so the merge path executes repeatedly), then
    return the final state. Equivalent to :func:`latest_per_key` over the
    whole input — the batch twin IS the oracle."""
    from ..sources.readers import read_parquet_ns_safe

    batch = read_parquet_ns_safe(spark, parquet_path)

    # stage the source as several files so the stream runs several batches
    stage = scratch_dir(spark, "upsert_src")
    batch.repartition(n_source_files).write.mode("overwrite").parquet(stage)

    store = scratch_dir(spark, "upsert_state") + "/state"
    ckpt = scratch_dir(spark, "upsert_ckpt")

    stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(stage)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        incoming = latest_per_key(batch_df, key, ts)
        if os.path.isdir(store) and os.listdir(store):
            current = spark.read.parquet(store)
            merged = latest_per_key(current.unionByName(incoming), key, ts)
        else:
            merged = incoming
        # rewrite to a fresh versioned folder, then repoint: a plain
        # overwrite would delete the files of the frame being read
        out = f"{store}_v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        tmp = f"{store}_swap"
        if os.path.islink(store) or os.path.isdir(store):
            os.rename(store, tmp)
        os.rename(out, store)
        if os.path.isdir(tmp):
            import shutil

            shutil.rmtree(tmp)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return spark.read.parquet(store)
