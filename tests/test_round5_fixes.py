"""Round-5 regression pins: the r04 ADVICE items and the q187 driver fix.

1. event_order_key stride covers the FULL signed-int64 id space (the old
   10^19 stride misordered mixed-sign ids across adjacent timestamps).
2. fit_logistic survives a non-empty frame whose label/features are all
   NULL (the degenerate-day shape) — mirrors fit_multiple_ols' dropna.
3. plans.guard judges each join node on its own build side: a data-sized
   cartesian is flagged even when the same query computes a global scalar
   elsewhere (the old plan-wide exemption's blind spot).
4. q187 emits only scalar columns (the r04 canonicalizer crash was an
   array cell) and round-trips exactly against int8 quantization.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_event_order_key_orders_mixed_sign_ids(spark):
    """pack(T, id_max) must sort BEFORE pack(T+1µs, id_min): with the old
    10^19 stride the positive id bled into the next timestamp's slot."""
    from isen_projet_bigdata_a3s6_spark.functions.scalar import (
        event_order_key,
    )

    rows = [
        (1, 2**63 - 1),
        (1, -(2**63)),
        (2, -(2**63)),
        (2, 0),
        (0, 5),
    ]
    df = spark.createDataFrame(
        rows, "t long, event_id long"
    ).withColumn("ts", F.timestamp_micros("t"))
    got = [
        (r["t"], r["event_id"])
        for r in df.orderBy(event_order_key("ts", "event_id")).collect()
    ]
    assert got == sorted(rows)


def test_fit_logistic_all_null_label_is_empty_out(spark):
    from isen_projet_bigdata_a3s6_spark.ml.pipeline import fit_logistic

    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "y double, x double"
    )
    model, scored = fit_logistic(df, "y", ["x"])
    assert model is None
    assert scored.count() == 0
    assert {"probability_1", "prediction"} <= set(scored.columns)


def test_fit_logistic_all_null_feature_is_empty_out(spark):
    from isen_projet_bigdata_a3s6_spark.ml.pipeline import fit_logistic

    df = spark.createDataFrame(
        [(1.0, None), (0.0, None)], "y double, x double"
    )
    model, scored = fit_logistic(df, "y", ["x"])
    assert model is None
    assert scored.count() == 0


def test_guard_flags_cartesian_despite_unrelated_scalar(spark):
    """The r04 blind spot: a query with BOTH a genuine data×data cartesian
    and an unrelated global scalar aggregate must still be flagged."""
    from isen_projet_bigdata_a3s6_spark.plans.guard import scale_killer_flags

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).withColumnRenamed("id", "a")
        b = spark.range(1000).withColumnRenamed("id", "b")
        scalar = spark.range(100).agg(F.count(F.lit(1)).alias("n"))
        bad = a.crossJoin(b).crossJoin(scalar)
        flags = scale_killer_flags(bad)
        assert any("CartesianProduct" in f or "BroadcastNestedLoopJoin" in f for f in flags), flags
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_guard_exempts_scalar_broadcast(spark):
    from isen_projet_bigdata_a3s6_spark.plans.guard import scale_killer_flags

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000)
        scalar = a.agg(F.sum("id").alias("s"))
        ok = a.crossJoin(scalar)
        assert scale_killer_flags(ok) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q187_scalar_schema_and_roundtrip(spark):
    """Driver contract: no complex-typed output columns; values reproduce
    int8 symmetric quantization exactly."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from isen_projet_bigdata_a3s6_spark.queries import queries

    df = queries()["q187_embedding_quantize"](
        spark, "/root/testdata/sf0.001"
    )
    assert not [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    row = df.filter(F.col("pos") == 1).orderBy("vec_id").first()
    assert -127 <= row["qval"] <= 127
    # scale · qval reconstructs the component to within half a step
    src = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") == row["vec_id"])
        .select(F.col("embedding")[0].alias("x0"))
        .first()
    )
    step = row["scale"] if row["scale"] else 1.0
    assert abs(row["qval"] * step - float(src["x0"])) <= step / 2 + 1e-6


def test_global_running_matches_single_reducer_window(spark):
    """operators.windows.global_running (two-phase range-partitioned scan)
    must reproduce the single-reducer Window.orderBy exactly: same global
    row_number AND same running sums over a composite (desc, asc) order —
    including duplicate measure values that straddle range-partition
    boundaries (the tiebreak key keeps the composite order total)."""
    from pyspark.sql import Window as W

    from isen_projet_bigdata_a3s6_spark.operators.windows import (
        global_running,
    )

    rows = [(i, (i * 7) % 13, float((i * 31) % 17)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, m long, v double").repartition(8)
    order = [F.desc("m"), F.asc("k")]
    got = {
        r["k"]: (r["rnk"], r["v_cum"])
        for r in global_running(
            df, order, sum_cols=["v"], rank_col="rnk"
        ).collect()
    }
    w = W.orderBy(*order)
    want = {
        r["k"]: (r["rnk"], r["cum"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rnk"),
            F.sum("v")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cum"),
        ).collect()
    }
    assert got == want


def test_rank_shape_queries_have_no_single_reducer_window(spark):
    """q163/q208/q288 rank over |parts|- or |vocab|-sized frames: their
    plans must contain no unpartitioned Window (every Window node's
    partition spec should include __pid or another key)."""
    import re

    from isen_projet_bigdata_a3s6_spark.queries import queries

    qs = queries()
    for name in (
        "q163_pareto_contribution",
        "q208_zipf_fit",
        "q288_abc_xyz",
        "q183_top_supplier",
    ):
        plan = (
            qs[name](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # a physical Window node renders as
        #   Window [exprs], [partition cols], [order spec]   (partitioned)
        #   Window [exprs], [order spec]                     (global)
        # so a global window has exactly ONE top-level "], [" separator.
        # The only sanctioned global window is global_running's offsets
        # pass, which orders by the synthetic __pid (|partitions| rows).
        bad = [
            line
            for line in plan.splitlines()
            if re.search(r"\bWindow \[", line)
            and line.count("], [") < 2
            and "__pid" not in line
        ]
        assert not bad, f"{name}: unpartitioned window:\n" + "\n".join(bad)


def test_hand_routed_dimension_slices_broadcast_at_scale(spark, sf_dir):
    """The broadcast audit's two contracts, pinned in the 100 TB regime
    (auto-broadcast disabled):

    1. q12/q101/q154/q186 route a bounded nation/region slice onto the
       dimension legs via an EXPLICIT hint — those BroadcastExchanges must
       survive threshold=-1 (they are bounded by schema, 2-25 rows), while
       the fact joins fall back to sort-merge. No nested-loop anywhere.
    2. q99/q102/q153 are fully unhinted — with the threshold disabled
       their plans must contain NO BroadcastExchange at all (nothing
       data-sized is ever forced resident on the executors).
    """
    from isen_projet_bigdata_a3s6_spark.queries import queries

    qs = queries()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        routed = (
            "q12_join_multiway",
            "q101_nation_volume",
            "q154_local_supplier_volume",
            "q186_market_share",
        )
        for name in routed:
            plan = (
                qs[name](spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert plan.count("BroadcastExchange") >= 2, name
            assert "SortMergeJoin" in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "CartesianProduct" not in plan, name
        unhinted = (
            "q99_cohort_retention",
            "q102_promo_ratio",
            "q153_shipping_priority",
        )
        for name in unhinted:
            plan = (
                qs[name](spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastExchange" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
