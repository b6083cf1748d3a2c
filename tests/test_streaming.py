"""Streaming: batch/stream equivalence for windows and the stateful EWMA
operator."""

import os

from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.sources.readers import load_table
from isen_projet_bigdata_a3s6_spark.streaming.windows import (
    streaming_tumbling_counts,
    tumbling_window_agg,
)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    stream_out = streaming_tumbling_counts(
        spark, path, query_name="t_stream_eq"
    ).select("window_start", "event_type", "n", "sum_value")
    batch_out = tumbling_window_agg(
        load_table(spark, sf_dir, "events"), "ts", "1 hour", ["event_type"]
    ).select("window_start", "event_type", "n", "sum_value")
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )


def _stage_time_ordered_files(spark, df, n_splits, tmpdir):
    """Write df as n time-ordered parquet files with ascending mtimes so the
    file stream source processes them as ordered micro-batches."""
    import shutil

    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n_splits
    stage = str(tmpdir)
    for i in range(n_splits):
        a, b = lo + i * span, lo + (i + 1) * span
        part = df.filter(
            (F.col("ts") > F.lit(a)) if i else (F.col("ts") >= F.lit(a))
        ).filter(F.col("ts") <= F.lit(b) if i < n_splits - 1 else F.lit(True))
        tmp = os.path.join(stage, f"_w{i}")
        part.coalesce(1).write.parquet(tmp)
        src = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    return stage


def test_streaming_ewma_equals_batch(spark, sf_dir, tmp_path):
    """The stateful streaming EWMA must reproduce the batch recurrence
    exactly across micro-batch boundaries (state = last EWMA + null gap)."""
    from isen_projet_bigdata_a3s6_spark.operators.temporal import ewma
    from isen_projet_bigdata_a3s6_spark.streaming.stateful import streaming_ewma

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    stage = _stage_time_ordered_files(spark, e, 3, tmp_path)
    streamed = streaming_ewma(
        spark, stage, schema=e.schema, alpha=0.3, query_name="t_ewma_stream"
    )
    batch = ewma(e, value_col="value", ts_col="ts", partition_by=["user_id"], alpha=0.3)
    s = {r["event_id"]: r["ewma"] for r in streamed.collect()}
    b = {r["event_id"]: r["ewma"] for r in batch.collect()}
    assert len(s) == len(b) > 0
    for k, v in b.items():
        if v is None:
            assert s[k] is None
        else:
            assert abs(s[k] - v) < 1e-12, (k, s[k], v)


def test_streaming_ewma_null_gap_state(spark, tmp_path):
    """Cross-batch null-gap weighting: a batch ending in NULLs must carry
    the gap so the next batch's first valid value is weighted exactly as in
    the unsplit pandas series (ignore_na=False position semantics)."""
    import datetime
    import shutil

    import pandas as pd

    from isen_projet_bigdata_a3s6_spark.streaming.stateful import streaming_ewma

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + datetime.timedelta(hours=i), v)
        for i, v in enumerate([1.0, 5.0, None, None, 2.0, None, 7.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    # split so batch 1 ends in NULLs: [0,1,2,3] | [4,5] | [6]
    stage = str(tmp_path)
    for i, ids in enumerate([(0, 1, 2, 3), (4, 5), (6,)]):
        tmp = os.path.join(stage, f"_w{i}")
        df.filter(F.col("event_id").isin(*ids)).coalesce(1).write.parquet(tmp)
        src = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    streamed = streaming_ewma(
        spark, stage, schema=df.schema, alpha=0.3, query_name="t_ewma_gap"
    )
    got = {r["event_id"]: r["ewma"] for r in streamed.collect()}
    want = (
        pd.Series([1.0, 5.0, None, None, 2.0, None, 7.0])
        .ewm(alpha=0.3, adjust=False)
        .mean()
    )
    assert len(got) == 7
    for i in range(7):
        assert abs(got[i] - want[i]) < 1e-12, (i, got[i], want[i])
