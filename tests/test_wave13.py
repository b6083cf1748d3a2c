"""Wave-13 tests: stateful user profiles, disorder metrics, restart
recovery, k-core decomposition."""

from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_q226_profile_matches_batch(spark):
    got = {
        r.user_id: (r.n_events, r.sum_micros, r.n_types)
        for r in Q.q226_transform_with_state(spark, SF).collect()
    }
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    e = load_table(spark, SF, "events")
    want = {
        r.user_id: (r.n, r.sv, r.nt)
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sv"),
            F.count_distinct("event_type").alias("nt"),
        )
        .collect()
    }
    assert got == want


def test_q227_disorder_covers_all_events(spark):
    rows = Q.q227_event_disorder(spark, SF).collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r.n for r in rows) == n_events
    by_bucket = {r.disorder_bucket: r for r in rows}
    if "in_order" in by_bucket:
        assert by_bucket["in_order"].max_late_us == 0
    for name, lo, hi in [
        ("lt_1min", 1, 60_000_000),
        ("lt_1h", 60_000_001, 3_600_000_000),
    ]:
        if name in by_bucket:
            assert lo <= by_bucket[name].max_late_us <= hi


def test_q228_restart_recovery_exactly_once(spark):
    got = {
        r.event_type: (r.n, r.sum_micros, r.n_users)
        for r in Q.q228_restart_recovery(spark, SF).collect()
    }
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    e = load_table(spark, SF, "events")
    want = {
        r.event_type: (r.n, r.sv, r.nu)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sv"),
            F.count_distinct("user_id").alias("nu"),
        )
        .collect()
    }
    # duplicated replay would inflate n; lost batches would deflate it —
    # exact equality is the exactly-once proof
    assert got == want


def _python_kcore(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def test_q229_kcore_matches_reference_peeler(spark):
    got = {r.node: r.core_deg for r in Q.q229_kcore(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    l1 = li.select("l_orderkey", F.col("l_partkey").alias("a"))
    l2 = li.select("l_orderkey", F.col("l_partkey").alias("b"))
    edges = [
        (r.a, r.b)
        for r in l1.join(l2, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .collect()
    ]
    want = _python_kcore(edges, 3)
    assert got == want
    for deg in got.values():
        assert deg >= 3
