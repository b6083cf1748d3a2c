"""Stream-stream joins (SURVEY §2.12 — Structured Streaming surface).

The one streaming shape round 1 didn't demonstrate: an event-time-bounded
inner join of two live streams. Both sides carry watermarks and the join
condition carries an explicit time bound, so Spark can expire join state on
both sides — the state store holds only rows inside
[watermark, watermark + bound], not the whole stream. Without the time bound
a stream-stream inner join must buffer both streams forever; with it, state
is O(rate × bound) regardless of stream length — the 100 TB/day posture.

Output mode is append (the only mode stream-stream joins support); the demo
drains a file source into a memory sink so the result is a plain DataFrame,
checked against a DuckDB self-join (q82's oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir, stage_parquet_files


def _staged_stream(spark: SparkSession, parquet_path: str, prefix: str):
    """File-source stream over a single parquet file, with the batch reader's
    nanos→timestamp conversion applied (same trick as streaming.windows)."""
    from ..sources.readers import read_stream_ns_safe

    stage = scratch_dir(spark, prefix.rstrip("_"))
    stage_parquet_files(parquet_path, stage)
    return read_stream_ns_safe(spark, parquet_path, stage)


def stream_stream_time_bounded_join(
    spark: SparkSession,
    parquet_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    bound: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "stream_join_out",
) -> DataFrame:
    """Windowed inner join of two streams derived from the events feed:
    every (left, right) pair with the same user where the right event lands
    in [left.ts, left.ts + bound].

    Two independent file-source streams (not one stream filtered twice after
    the fact: each side gets its own watermark), joined with the time-range
    predicate that makes the state bounded. Batch twin: the identical
    self-join on the batch table — same oracle SQL.
    """
    left = (
        _staged_stream(spark, parquet_path, "ss_join_l_")
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _staged_stream(spark, parquet_path, "ss_join_r_")
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user_id = r_user_id AND
            r_ts >= l_ts AND
            r_ts <= l_ts + INTERVAL {bound}
            """
        ),
        "inner",
    ).select("l_event_id", "r_event_id", "l_user_id", "l_ts", "r_ts", "r_value")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def stream_stream_left_outer_join(
    spark: SparkSession,
    parquet_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    bound: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "stream_louter_out",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarks on both sides.

    Matched pairs emit immediately; an UNMATCHED left row emits null-padded
    only once the global watermark (min over both sides of max-event-time −
    delay) passes ``l_ts + bound`` — the point where no future right row can
    match it, which is when Spark evicts the left state row. Left rows whose
    match window is still open at end-of-stream are never emitted: defined
    outer-join semantics under watermarking, reproduced by the oracle's
    watermark cutoff predicate. State stays O(rate × (watermark + bound)) on
    both sides.
    """
    left = (
        _staged_stream(spark, parquet_path, "ss_lojoin_l_")
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _staged_stream(spark, parquet_path, "ss_lojoin_r_")
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user_id = r_user_id AND
            r_ts >= l_ts AND
            r_ts <= l_ts + INTERVAL {bound}
            """
        ),
        "left_outer",
    ).select("l_event_id", "l_user_id", "l_ts", "r_event_id", "r_ts", "r_value")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)
