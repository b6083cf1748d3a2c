"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.12 — the escape hatch for operators Spark's windowed
aggregations can't express).

- :func:`user_profiles` — per-user running profile (event count, value
  micros sum, distinct event types) kept in one state tuple per user
  across micro-batches (q226).
- :func:`streaming_ewma` — the per-user EWMA recurrence continued across
  micro-batches from one scalar of state per key (q152).

Scale posture: state is keyed by user and lives in the state store
(RocksDB/HDFS-backed on a cluster); each micro-batch touches only the keys
present in the batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _update_profile(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, sv, types = state.get if state.exists else (0, 0, [])
    types = list(types)
    for pdf in pdfs:
        n += len(pdf)
        # value has ≤4 dp (the q71 decimal convention): micros-exact
        sv += int(round(float(pdf["value"].sum()) * 10000))
        for t in pdf["event_type"].unique():
            if t not in types:
                types.append(t)
    state.update((n, sv, types))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_micros": [sv],
            "n_types": [len(types)],
        }
    )


def user_profiles(
    spark: SparkSession,
    parquet_path: str,
    n_batches: int = 4,
    query_name: str = "user_profiles_out",
) -> DataFrame:
    """Run the profile operator over the events feed split into
    ``n_batches`` micro-batches (maxFilesPerTrigger=1), proving state
    survives across batches. Emissions are per-batch running totals in
    Update mode; the returned frame is the FINAL profile per user (the
    emission with the max event count — counts are monotone)."""
    from ..sources.readers import read_parquet_ns_safe

    batch = read_parquet_ns_safe(spark, parquet_path).select(
        "event_id", "user_id", "event_type", "value"
    )
    stage = scratch_dir(spark, "profile_src")
    batch.repartition(n_batches).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_micros BIGINT, n_types BIGINT",
        stateStructType="n BIGINT, sv BIGINT, types ARRAY<STRING>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sq = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    return (
        spark.table(query_name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_micros", "n_types"), "n_events"
            ).alias("s")
        )
        .select("user_id", "s.n_events", "s.sum_micros", "s.n_types")
    )


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
