"""Checkpoint-restart recovery for Structured Streaming.

``restart_recovery_counts`` drives the exactly-once contract end-to-end:
a file-sink query consumes half the input, is STOPPED, more input arrives,
and a NEW query object with the same checkpoint resumes — the sink must
hold every input row exactly once across the restart (the checkpoint ties
source offsets to sink commits; re-delivered batches are idempotently
skipped via the sink's transaction log).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir


def restart_recovery_counts(
    spark: SparkSession,
    parquet_path: str,
) -> DataFrame:
    """Exactly-once across a query RESTART: phase 1 consumes the even-id
    half of the feed into a checkpointed parquet sink and stops; phase 2
    drops the odd-id half into the source directory and starts a NEW query
    with the SAME checkpoint and sink. The checkpoint replays nothing and
    loses nothing, so the sink read back equals the batch twin exactly.
    Returns per-type counts + micros sums over the recovered sink."""
    from ..sources.readers import read_parquet_ns_safe

    batch = read_parquet_ns_safe(spark, parquet_path).select(
        "event_id", "user_id", "event_type", "value"
    )
    src = scratch_dir(spark, "restart_src")
    ckpt = scratch_dir(spark, "restart_ckpt")
    sink = scratch_dir(spark, "restart_sink") + "/out"

    def run_phase() -> None:
        stream = spark.readStream.schema(batch.schema).parquet(src)
        proj = stream.withColumn(
            "micros", F.round(F.col("value") * 10000).cast("long")
        )
        sq = (
            proj.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()

    # the file source does not recurse: land each half as flat files in
    # the source dir (write to a scratch dir, move the parts in)
    import glob
    import shutil

    def land(df, tag: str) -> None:
        scratch = scratch_dir(spark, f"restart_{tag}")
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        for i, f in enumerate(sorted(glob.glob(os.path.join(scratch, "*.parquet")))):
            shutil.move(f, os.path.join(src, f"{tag}_{i}.parquet"))

    land(batch.filter(F.col("event_id") % 2 == 0), "even")
    run_phase()
    land(batch.filter(F.col("event_id") % 2 == 1), "odd")
    run_phase()  # new query object, same checkpoint: resumes, no replay

    recovered = spark.read.parquet(sink)
    return recovered.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("micros").alias("sum_micros"),
        F.count_distinct("user_id").alias("n_users"),
    )
