"""Round-9 promotion of the last engine-sketch queries (q51, q125) to the
repo's own SQL-replayable sketches: an md5-hash HyperLogLog (integer
bit-length registers, exact BIGINT fold) and an HdrHistogram-style base-2
quantile sketch (pure integer bucket arithmetic).

Cross-engine parity of q51/q125 is pinned by test_oracle_parity (the repo
gate). Pins here, in order: (1) the sketch ACCURACY contracts (HLL SE, HDR
relative-error bound) vs exact answers; (2) the mergeable-sketch property
(register frames over any split of the data merge to the whole-data frame);
(3) the ENGINE sketches (approx_count_distinct / percentile_approx /
hll_sketch_agg) stay demonstrated with tolerance pins now that no contract
query runs them."""

import pytest
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.operators.sketches import (
    HLL_M,
    hdr_buckets,
    hdr_median,
    hll_estimate,
    hll_registers,
)
from isen_projet_bigdata_a3s6_spark.sources.readers import load_table


def test_hll_accuracy_vs_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    est = {
        r["l_returnflag"]: r["est"]
        for r in hll_estimate(
            hll_registers(li, "l_orderkey", ["l_returnflag"]), ["l_returnflag"]
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        # m=1024 → SE ≈ 3.25%; 4 sigma
        assert abs(est[k] - n) <= max(3, 0.13 * n), (k, est[k], n)


def test_hdr_median_error_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    med = {
        r["l_returnflag"]: r["med"]
        for r in hdr_median(
            hdr_buckets(li, "l_quantity", ["l_returnflag"]), ["l_returnflag"]
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_quantity, 0.5)").alias("m"))
        .collect()
    }
    for k, m in exact.items():
        # rel err ≤ 2^-(b+1) = 1/128 plus the lower-median-vs-interpolated
        # discrete gap (≤ 1 for integer quantities)
        assert abs(med[k] - m) <= 1.0 + m / 128.0, (k, med[k], m)


def test_hll_registers_merge_associative(spark, sf_dir):
    """Registers over any split of the rows merge (groupBy-MAX) to exactly
    the whole-data register frame — the property that makes daily sketch
    persistence + window rollup (q125) sound."""
    e = load_table(spark, sf_dir, "events")
    whole = hll_registers(e, "user_id", ["event_type"])
    lo = hll_registers(e.filter(F.col("event_id") % 2 == 0), "user_id", ["event_type"])
    hi = hll_registers(e.filter(F.col("event_id") % 2 == 1), "user_id", ["event_type"])
    merged = (
        lo.unionByName(hi)
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("r"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_register_frame_bounded(spark, sf_dir):
    """≤ m register rows per group no matter the input size — the sketch
    size contract that makes the 100 TB rollup cheap."""
    e = load_table(spark, sf_dir, "events")
    sizes = (
        hll_registers(e, "user_id", ["event_type"])
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert all(r["count"] <= HLL_M for r in sizes)


def test_hll_empty_and_all_null(spark):
    df = spark.createDataFrame([], "g string, k long")
    assert hll_estimate(hll_registers(df, "k", ["g"]), ["g"]).count() == 0
    df2 = spark.createDataFrame([("a", None)], "g string, k string")
    # all-NULL keys: no registers, no estimate row (COUNT DISTINCT = 0
    # semantics comes out as group absence, matching the SQL twin)
    assert hll_estimate(hll_registers(df2, "k", ["g"]), ["g"]).count() == 0


def test_engine_sketches_stay_demonstrated(spark, sf_dir):
    """approx_count_distinct / percentile_approx / hll_sketch_agg are the
    production engine sketches (register-level replay impossible across
    engines — the q51/q125 declination through r08); tolerance pins keep
    them exercised now that the contract queries run the replayable
    variants."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.agg(
        F.approx_count_distinct("l_orderkey").alias("acd"),
        F.percentile_approx("l_quantity", 0.5).alias("pa"),
        F.countDistinct("l_orderkey").alias("n"),
        F.expr("percentile(l_quantity, 0.5)").alias("p"),
    ).first()
    assert abs(r["acd"] - r["n"]) <= 0.1 * r["n"]
    assert abs(r["pa"] - r["p"]) <= 2.0
    e = load_table(spark, sf_dir, "events")
    s = e.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est"),
        F.countDistinct("user_id").alias("n"),
    ).first()
    assert abs(s["est"] - s["n"]) <= max(2, 0.05 * s["n"])
