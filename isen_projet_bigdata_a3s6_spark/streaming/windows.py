"""Event-time windows — batch and Structured Streaming (SURVEY §2.12).

The reference is pure batch, so tumbling/sliding/session aggregations over
``events.ts`` are engine extensions. Each has a batch form (F.window /
F.session_window — ordinary shuffled aggregations, oracle-checkable) and a
streaming form (readStream → watermark → windowed agg → memory sink) proving
the same logical plan runs incrementally with late-data handling.

At scale: watermark + windowed agg is Spark's mergeable stateful operator —
state is keyed by (window, keys) and pruned at the watermark, so memory is
bounded by window-span × key cardinality, not stream length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir, stage_parquet_files

from ..functions.scalar import dec_sum


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling windows: every event in exactly one bucket. Epoch-aligned,
    so for whole-unit durations window_start == date_trunc(unit, ts)."""
    aggs = aggs or [F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value")]
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide buckets."""
    aggs = aggs or [F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value")]
    return (
        df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .drop("w")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session windows (gap-based) via the native session_window operator."""
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("w.start"))
        .withColumn("session_end", F.col("w.end"))
        .drop("w")
    )


def streaming_tumbling_counts(
    spark: SparkSession,
    parquet_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: list[str] = ("event_type",),
    watermark: str = "1 hour",
    query_name: str = "stream_out",
) -> DataFrame:
    """Run the tumbling aggregation as a real Structured Streaming query over
    the parquet file (file source), drain it synchronously into a memory
    sink, and return the materialized result — identical semantics to the
    batch form, so it shares its DuckDB oracle."""
    from ..sources.readers import read_stream_ns_safe

    # FileStreamSource wants a directory; stage the single file via symlink
    stage_dir = scratch_dir(spark, "stream_src")
    stage_parquet_files(parquet_path, stage_dir)
    stream = read_stream_ns_safe(spark, parquet_path, stage_dir, maxFilesPerTrigger=1)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), *keys, "n", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def streaming_tumbling_to_file_sink(
    spark: SparkSession,
    parquet_path: str,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: list[str] = ("event_type",),
    watermark: str = "2 hours",
    query_name: str = "stream_file_out",
) -> DataFrame:
    """The production posture for streaming aggregation output —
    ``outputMode("append")`` into a real (parquet) file sink with a
    checkpoint, instead of a driver-resident complete-mode memory table.

    Append mode emits a window exactly once, when the watermark passes its
    end (Spark schedules a no-data micro-batch after the last data batch
    precisely to flush these finalized windows). Windows still open at the
    final watermark are NOT emitted — that is the defined semantics, and the
    oracle reproduces it with a HAVING on the watermark cutoff. Returns the
    sink directory read back as a batch DataFrame.

    At scale this is exactly-once end-to-end: the checkpoint ties source
    offsets to sink commits, the sink is append-only parquet partitionable
    by window date, and no state ever lives on the driver.
    """
    stream = _stage_stream(spark, parquet_path, "stream_fsink_src_")
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), *keys, "n", "sum_value")
    )
    sink_dir = scratch_dir(spark, "stream_fsink_out") + "/result"
    ckpt_dir = scratch_dir(spark, "stream_fsink_ckpt")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # explicit schema: an append sink that saw zero batches has no footer
    # to infer from (the empty-sweep convention for partitioned layouts)
    return spark.read.schema(agg.schema).parquet(sink_dir)


def streaming_session_windows(
    spark: SparkSession,
    parquet_path: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: list[str] = ("user_id",),
    watermark: str = "1 hour",
    query_name: str = "stream_session_out",
) -> DataFrame:
    """Session windows as a real stream — the MERGING stateful operator
    (unlike tumbling/sliding, open sessions extend/merge as events arrive,
    so state is per OPEN session, finalized only when the watermark passes
    ``last_event + gap``). Append mode emits each closed session exactly
    once; sessions still open at the final watermark are not emitted — the
    oracle encodes that cutoff with a HAVING, same technique as q95/q96."""
    from ..sources.readers import read_stream_ns_safe

    stage = scratch_dir(spark, "stream_sess_src")
    stage_parquet_files(parquet_path, stage)
    stream = read_stream_ns_safe(spark, parquet_path, stage)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def _stage_stream(
    spark: SparkSession, parquet_path: str, prefix: str
) -> DataFrame:
    """Stage a parquet table as a file-source stream: FileStreamSource wants
    a flat directory of data files, and nanos-timestamp columns get the same
    exact-integer-division conversion the batch reader applies (so stream
    and batch see identical event times).

    Handles BOTH table shapes: a single parquet file (the driver fixtures)
    is symlinked in directly; a Spark-written DIRECTORY (every real
    deployment — caught by the sf1 upscale smoke, where a directory table
    streamed zero files because the source does not recurse through a
    symlinked dir) has each part-file symlinked in individually."""
    from ..sources.readers import read_stream_ns_safe

    stage = scratch_dir(spark, prefix.rstrip("_"))
    stage_parquet_files(parquet_path, stage)
    return read_stream_ns_safe(spark, parquet_path, stage)


def streaming_dedup_keys(
    spark: SparkSession,
    parquet_path: str,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
    query_name: str = "stream_dedup",
) -> DataFrame:
    """Streaming deduplication — emit each key combination exactly once, on
    first sight (``dropDuplicates`` with a watermark so the key state is
    bounded: keys older than the watermark horizon are evicted instead of
    accumulating forever — the only way streaming dedup survives an
    unbounded stream).

    Emits the KEY columns only: which physical row "was first" depends on
    micro-batch partition order and is not part of the operator's contract.
    State is bounded via ``dropDuplicatesWithinWatermark`` — plain
    ``dropDuplicates(keys)`` without the event-time column in the subset
    would NEVER evict and grow forever on an unbounded stream. The honest
    contract is therefore exactly-once per key WITHIN the watermark
    horizon; a key recurring after its state expired re-emits. On a
    bounded replay like this one the watermark only advances after the
    final batch, so no state expires mid-run and the emitted set equals
    batch ``DISTINCT`` — the oracle.
    """
    stream = _stage_stream(spark, parquet_path, "stream_dedup_src_")
    deduped = (
        stream.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )
    sink_dir = scratch_dir(spark, "stream_dedup_out") + "/result"
    ckpt_dir = scratch_dir(spark, "stream_dedup_ckpt")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # explicit schema: an append sink that saw zero batches has no footer
    # to infer from (the empty-sweep convention for partitioned layouts)
    return spark.read.schema(deduped.schema).parquet(sink_dir)
