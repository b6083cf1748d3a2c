"""Heavy hitters (Misra–Gries + exact verify), chunking, PII redaction."""

import pytest
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.functions.text import (
    chunks,
    pii_hits,
    redact_pii,
)
from isen_projet_bigdata_a3s6_spark.operators.sketches import heavy_hitters


def test_heavy_hitters_exact(spark):
    # 100 'a', 30 'b', 1 each of 20 noise keys → N=150
    rows = [("a",)] * 100 + [("b",)] * 30 + [(f"x{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", min_frac=0.1).collect()}
    assert got == {"a": 100, "b": 30}
    # tighter threshold keeps only the dominant key
    got2 = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", min_frac=0.5).collect()}
    assert got2 == {"a": 100}


def test_heavy_hitters_capacity_guard(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", min_frac=0.01, capacity=10)
    with pytest.raises(ValueError):
        heavy_hitters(df, "k", min_frac=1.5)


def test_chunks_overlap(spark):
    text = " ".join(f"w{i}" for i in range(7))
    df = spark.createDataFrame([(text,), ("",)], "text string")
    out = df.select(chunks("text", size=4, stride=3).alias("c")).collect()
    # starts 0,3,6 → [w0..w3], [w3..w6], [w6]
    assert out[0]["c"] == ["w0 w1 w2 w3", "w3 w4 w5 w6", "w6"]
    assert out[1]["c"] == []


def test_redact_pii(spark):
    s = "mail a.b+c@ex.com or call 555-123-4567; card 1234 5678 9012 3456 ok"
    df = spark.createDataFrame([(s,)], "text string")
    r = df.select(
        redact_pii("text").alias("t"), pii_hits("text").alias("n")
    ).collect()[0]
    assert r["t"] == "mail <EMAIL> or call <PHONE>; card <CARD> ok"
    assert r["n"] == 3


def test_hll_estimate_tolerance(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark import queries as reg
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    est = {
        r["event_type"]: r["est_users"]
        for r in reg.queries()["q125_hll_rollup"](spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(2, 0.05 * n), (t, est[t], n)


def test_editdist1_pairs_exact(spark):
    from isen_projet_bigdata_a3s6_spark.functions.dedup import editdist1_pairs

    words = ["cat", "cut", "cart", "at", "dog", "dig", "cata"]
    df = spark.createDataFrame(list(enumerate(words)), "id long, w string")
    got = {(r["id_a"], r["id_b"], r["dist"])
           for r in editdist1_pairs(df, "id", "w").collect()}
    # brute-force reference
    def lev(a, b):
        import numpy as np
        m = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1, prev + (ca != cb))
        return int(m[len(b)])
    want = {(i, j, lev(words[i], words[j]))
            for i in range(len(words)) for j in range(i + 1, len(words))
            if lev(words[i], words[j]) <= 1}
    assert got == want and len(want) > 0


def test_cms_bounds(spark, sf_dir):
    import math

    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    cms = cms_build(li, "l_partkey", width=1024, depth=4)
    keys = li.select("l_partkey").distinct().limit(100)
    est = {r["l_partkey"]: r["est"]
           for r in cms_estimate(cms, keys, "l_partkey", width=1024, depth=4).collect()}
    exact = {r["l_partkey"]: r["cnt"]
             for r in li.join(keys, "l_partkey", "left_semi")
             .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    eps_n = math.e / 1024 * n
    # never undercounts — deterministic CMS property
    for k, ex in exact.items():
        assert est[k] >= ex, (k, est[k], ex)
    # the +εN overcount bound holds per key with prob 1−(1/e)^depth ≈ 98%;
    # over 100 keys allow a small violation fraction
    violations = sum(1 for k, ex in exact.items() if est[k] > ex + eps_n)
    assert violations <= 0.1 * len(exact), (violations, len(exact))


def _bloom_filter(df, probe, key_col, **params):
    """``probe`` rows the Bloom filter built from ``df`` might contain."""
    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        bloom_literal_predicate,
        bloom_words,
    )

    bloom = bloom_words(df, key_col, **params)
    return probe.filter(bloom_literal_predicate(bloom, key_col, **params))


def test_bloom_no_false_negatives(spark):
    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    kept = _bloom_filter(keys, keys, "k", num_bits=8192, num_hashes=5)
    # Bloom filters never reject an inserted key
    assert kept.count() == 500


def test_bloom_false_positive_rate(spark):
    inserted = spark.range(0, 500).select(F.col("id").alias("k"))
    # 10k keys guaranteed disjoint from the inserted range
    probes = spark.range(1_000_000, 1_010_000).select(F.col("id").alias("k"))
    fp = _bloom_filter(inserted, probes, "k", num_bits=65536, num_hashes=5).count()
    # theoretical fp ≈ (1 - e^(-k n / m))^k ≈ 8e-8 at n=500, m=65536, k=5;
    # allow a generous slack over 10k probes
    assert fp <= 20, fp


def test_bloom_prune_plus_semi_join_is_exact(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        bloom_literal_predicate,
        bloom_words,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    sel = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    pruned = li.filter(bloom_literal_predicate(bloom_words(sel, "o_orderkey"), "l_orderkey"))
    got = (
        pruned.join(F.broadcast(sel), pruned.l_orderkey == sel.o_orderkey, "left_semi")
        .select("l_orderkey", "l_linenumber")
    )
    want = li.join(
        F.broadcast(sel), li.l_orderkey == sel.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_bloom_build_rejects_bad_params(spark):
    from isen_projet_bigdata_a3s6_spark.operators.sketches import bloom_words

    keys = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        bloom_words(keys, "k", num_bits=100)
    with pytest.raises(ValueError):
        bloom_words(keys, "k", num_hashes=0)


def test_histogram_quantile_bound(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        histogram_build,
        histogram_quantiles,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    bins = 128
    hist, lo, hi = histogram_build(li, "l_extendedprice", bins=bins)
    qs = [0.25, 0.5, 0.9, 0.99]
    est = {r["q"]: r["est"] for r in histogram_quantiles(hist, lo, hi, bins, qs).collect()}
    exact = li.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, qs))}))")
    ).first()[0]
    width = (hi - lo) / bins
    for q, ex in zip(qs, exact):
        assert abs(est[q] - ex) <= width + 1e-9, (q, est[q], ex, width)


def test_histogram_merges_additively(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark.operators.sketches import histogram_build
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # same grid: build full, build halves with the full grid re-derived —
    # counts must sum bin-by-bin (the mergeable property)
    full, lo, hi = histogram_build(li, "l_extendedprice", bins=32)
    # pin both halves to the full grid by injecting one row at lo and one
    # at hi (removed from the merged counts below)
    pins = li.orderBy("l_extendedprice").limit(1).unionByName(
        li.orderBy(F.desc("l_extendedprice")).limit(1)
    )
    h1, _, _ = histogram_build(
        li.filter(F.col("l_orderkey") % 2 == 0).unionByName(pins),
        "l_extendedprice", bins=32,
    )
    h2, _, _ = histogram_build(
        li.filter(F.col("l_orderkey") % 2 == 1).unionByName(pins),
        "l_extendedprice", bins=32,
    )
    merged = (
        h1.unionByName(h2)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    f = {r["bin"]: r["cnt"] for r in full.collect()}
    m = {r["bin"]: r["cnt"] for r in merged.collect()}
    # the 4 injected grid-pin rows (2 per half) add to the lo/hi bins
    m[min(m)] -= 2
    m[max(m)] -= 2
    m = {k: v for k, v in m.items() if v > 0}
    assert f == m
