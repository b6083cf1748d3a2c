"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.12 — the escape hatch for operators Spark's windowed
aggregations can't express).

Demonstrated operator: per-user running profile — event count, running
value sum, and last-seen timestamp — maintained incrementally across
micro-batches with explicit state. The same callable serves batch
(``applyInPandas``) and streaming (``applyInPandasWithState``), proving the
operator's logic is execution-mode agnostic.

Scale posture: state is keyed by user and lives in the state store
(RocksDB/HDFS-backed on a cluster); each micro-batch touches only the keys
present in the batch. Timeouts prune idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir, stage_parquet_files
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double, last_ts timestamp"
STATE_SCHEMA = "n long, s double, last_ts timestamp"


def _update_profile(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, last_ts = state.get
    else:
        n, s, last_ts = 0, 0.0, None
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
    state.update((n, s, last_ts))
    yield pd.DataFrame(
        [{"user_id": user_id, "n_events": n, "sum_value": s, "last_ts": last_ts}]
    )


def streaming_user_profiles(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "user_profiles",
) -> DataFrame:
    """Run the stateful profile operator as a real stream over the events
    parquet (one file per micro-batch via maxFilesPerTrigger), returning the
    final materialized state. Update-mode output: last row per user wins."""
    from ..sources.readers import read_stream_ns_safe

    stage = scratch_dir(spark, "stateful_src")
    stage_parquet_files(parquet_path, stage)
    stream = read_stream_ns_safe(spark, parquet_path, stage, maxFilesPerTrigger=1)
    profiles = (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        profiles.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode appends one row per key per batch: keep the last per user
    from pyspark.sql import Window as W

    out = spark.table(query_name)
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def batch_user_profiles(df: DataFrame) -> DataFrame:
    """The batch twin: same result as the streaming operator, as a plain
    aggregation (used as its correctness oracle)."""
    from ..functions.scalar import round6

    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Per-key rate limiter — the training-data-feed throttle (keep at most N
# events per key per window), as a second stateful operator
# ---------------------------------------------------------------------------
RATE_OUTPUT_SCHEMA = "user_id long, hour timestamp, event_id long, ts timestamp"
RATE_STATE_SCHEMA = "n long"


def _make_rate_limiter(limit: int):
    def _rate_limit(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id, hour = key
        n = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            # deterministic admission order inside the micro-batch
            pdf = pdf.sort_values(["ts", "event_id"])
            take = max(limit - n, 0)
            kept = pdf.head(take)
            n += len(pdf)  # count all arrivals; admitted = first `limit`
            if len(kept):
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": user_id,
                            "hour": hour,
                            "event_id": kept["event_id"].values,
                            "ts": kept["ts"].values,
                        }
                    )
                )
        state.update((n,))
        yield from out or [pd.DataFrame(columns=["user_id", "hour", "event_id", "ts"])]

    return _rate_limit


def streaming_rate_limit(
    spark: SparkSession,
    parquet_path: str,
    limit: int = 3,
    query_name: str = "rate_limit_out",
) -> DataFrame:
    """Admit at most ``limit`` events per (user, hour) in event arrival
    order — the feed throttle a large-scale ingestion pipeline puts in front
    of expensive per-document processing. State per key is a single counter;
    keys stop mutating one watermark past their hour (timeout would prune
    them in a long-lived job)."""
    from ..sources.readers import read_stream_ns_safe

    stage = scratch_dir(spark, "ratelimit_src")
    stage_parquet_files(parquet_path, stage)
    stream = read_stream_ns_safe(spark, parquet_path, stage)
    limited = (
        stream.select(
            "user_id", F.date_trunc("hour", "ts").alias("hour"), "event_id", "ts"
        )
        .groupBy("user_id", "hour")
        .applyInPandasWithState(
            _make_rate_limiter(limit),
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        limited.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


_EWMA_OUTPUT_SCHEMA = "event_id long, user_id long, ts timestamp, ewma double"
# last: last emitted EWMA; gap: trailing-NaN run length since that value
# (pandas ignore_na=False weights by absolute position, so a batch ending in
# NULLs must carry the gap length for the next batch's first valid update to
# use (1-alpha)^(gap+1) exactly as the single-series batch twin does).
_EWMA_STATE_SCHEMA = "last double, gap long, has boolean"


def _make_ewma(alpha: float):
    import numpy as np

    def _ewma(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last, gap, has = state.get if state.exists else (0.0, 0, False)
        for pdf in pdfs:
            # event_id tie-break: equal-ts rows within a hot key need a
            # total order for the recurrence (and the q129/q152 oracle)
            # to be deterministic
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            vals = pdf["value"].astype(float)
            if has:
                # seed: prior EWMA followed by its trailing-NaN gap restores
                # the exact position distances of the unsplit series
                seeded = pd.concat(
                    [pd.Series([last] + [np.nan] * gap, dtype=float), vals],
                    ignore_index=True,
                )
                y = seeded.ewm(alpha=alpha, adjust=False).mean().iloc[1 + gap :]
            else:
                y = vals.reset_index(drop=True).ewm(alpha=alpha, adjust=False).mean()
            y = y.reset_index(drop=True)
            valid = y.notna() & vals.reset_index(drop=True).notna()
            if valid.any():
                last_idx = int(valid[valid].index[-1])
                last, has = float(y.iloc[last_idx]), True
                gap = int(len(y) - 1 - last_idx)
            elif has:
                gap += len(y)
            state.update((last, gap, has))
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].values,
                    "user_id": user_id,
                    "ts": pdf["ts"].values,
                    "ewma": y.values,
                }
            )

    return _ewma


def streaming_ewma(
    spark: SparkSession,
    staged_dir: str,
    schema,
    alpha: float = 0.3,
    query_name: str = "ewma_stream_out",
    ns_timestamp_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-user EWMA as a stateful stream (``applyInPandasWithState``):
    the sequential recurrence y_t = alpha*x_t + (1-alpha)*y_{t-1} continues
    across micro-batches from one scalar of state per key (plus the
    trailing-null gap length, see ``_EWMA_STATE_SCHEMA``). Requires
    event-time-ordered arrival across batches (file source ordered by
    mod-time here; on a cluster, a time-partitioned source or Kafka with
    per-key ordering). Batch twin — and correctness oracle — is
    ``operators.temporal.ewma`` (q129)."""
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        staged_dir
    )
    for name in ns_timestamp_cols:
        stream = stream.withColumn(
            name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
        )
    out = (
        stream.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma(alpha),
            outputStructType=_EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def batch_rate_limit(df: DataFrame, limit: int = 3) -> DataFrame:
    """Batch twin: first ``limit`` events per (user, hour) by (ts, event_id)
    — one window shuffle (WindowGroupLimit pushes the filter down)."""
    from pyspark.sql import Window as W

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
