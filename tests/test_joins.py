"""Join operators: 1-NN broadcast vs grid-bucketed parity, as-of join."""

import pytest
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.operators.joins import (
    asof_join,
    knn_join_1nn,
    knn_join_1nn_grid,
)


def _toy_points(spark):
    probes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 10.0), (3, 5.1, 5.1)], "pid int, px double, py double"
    )
    known = spark.createDataFrame(
        [(100, 0.5, 0.5, "a"), (200, 9.0, 9.0, "b"), (300, 5.0, 5.0, "c")],
        "kid int, kx double, ky double, lbl string",
    )
    return probes, known


def test_knn_1nn_broadcast(spark):
    probes, known = _toy_points(spark)
    out = knn_join_1nn(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["lbl"], tiebreak="kid"
    )
    got = {(r["pid"], r["lbl"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_knn_grid_matches_broadcast(spark):
    probes, known = _toy_points(spark)
    bc = knn_join_1nn(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["lbl"], tiebreak="kid"
    )
    grid = knn_join_1nn_grid(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["lbl"],
        cell_size=20.0, tiebreak="kid",
    )
    assert sorted(map(tuple, bc.select("pid", "lbl").collect())) == sorted(
        map(tuple, grid.select("pid", "lbl").collect())
    )


def test_asof_join(spark):
    left = spark.createDataFrame(
        [(1, 10, "t1"), (1, 20, "t2"), (2, 5, "t3")], "k int, t int, tag string"
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 9, 300.0)], "k int, t int, px double"
    )
    out = asof_join(left, right, "k", "t", "t", ["px"])
    got = {(r["k"], r["t"], r["px"]) for r in out.collect()}
    # k=1 t=10 -> px@8; k=1 t=20 -> px@15; k=2 t=5 -> nothing at/before
    assert got == {(1, 10, 100.0), (1, 20, 200.0), (2, 5, None)}


def test_bucketed_write_join(spark):
    import uuid

    from isen_projet_bigdata_a3s6_spark.sources.writers import write_bucketed

    # default warehouse dir (./spark-warehouse, gitignored) — the conf is
    # static and cannot be set per-test
    name = f"bt_{uuid.uuid4().hex[:8]}"
    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
    write_bucketed(df, name, ["k"], num_buckets=4)
    back = spark.table(name)
    assert back.count() == 100
    spark.sql(f"DROP TABLE {name}")


def test_knn_grid_exact_matches_broadcast_on_driver_data(spark, sf_dir):
    """Exact grid 1-NN (residual-doubling) == broadcast 1-NN on the
    customer↔supplier acctbal pairing, including sparse-tail probes."""
    from pyspark.sql import functions as F

    from isen_projet_bigdata_a3s6_spark.operators.joins import (
        knn_join_1nn,
        knn_join_1nn_grid_exact,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("cx"), F.lit(0.0).alias("cy")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").alias("sx"), F.lit(0.0).alias("sy")
    )
    bc = knn_join_1nn(c, s, "c_custkey", ("cx", "cy"), ("sx", "sy"),
                      ["s_suppkey"], tiebreak="s_suppkey")
    # deliberately small first cell so several rounds are exercised
    grid = knn_join_1nn_grid_exact(c, s, "c_custkey", ("cx", "cy"), ("sx", "sy"),
                                   ["s_suppkey"], cell_size=50.0, tiebreak="s_suppkey")
    got_bc = sorted((r["c_custkey"], r["s_suppkey"]) for r in bc.collect())
    got_gr = sorted((r["c_custkey"], r["s_suppkey"]) for r in grid.collect())
    assert got_bc == got_gr


def test_merge_upsert(spark):
    from isen_projet_bigdata_a3s6_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    merged = {(r["k"], r["v"]) for r in merge_upsert(target, updates, "k").collect()}
    assert merged == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_snapshot_diff_classification(spark):
    from isen_projet_bigdata_a3s6_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, "D", 4.0), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k").collect()}
    # k=1 unchanged (filtered), k=2 NULL→2.0 changed, k=3 removed,
    # k=4 changed, k=5 added
    assert got == {2: "changed", 3: "removed", 4: "changed", 5: "added"}
    full = {r["k"]: r["change_type"]
            for r in snapshot_diff(old, new, "k", include_unchanged=True).collect()}
    assert full[1] == "unchanged" and len(full) == 5


def test_bucketed_join_eliminates_shuffle(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark import queries as reg

    # at tiny SF the planner would broadcast instead — force the shuffle
    # join so the bucketed-scan co-location is what's being proven
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = reg.queries()["q141_bucketed_join"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    # AQE prints Final and Initial plans — assert on the final one only
    plan = plan.split("== Initial Plan ==")[0]
    assert "Bucketed: true" in plan
    join_pos = plan.find("SortMergeJoin")
    assert join_pos != -1, plan
    # no Exchange below the join: both sides scan pre-bucketed tables
    below = plan[join_pos:]
    assert "Exchange hashpartitioning" not in below
    # exactly one exchange overall (the final aggregation)
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize("empty_known", [False, True])
@pytest.mark.parametrize("threshold", [10**9, 0], ids=["broadcast", "grid"])
@pytest.mark.parametrize("planar", [True, False], ids=["planar", "haversine"])
def test_knn_footer_bound_dispatch_matches_count(spark, tmp_path, planar, threshold, empty_known):
    """The 1-NN dispatch sizes parquet scans from footer row counts (no job)
    and anything else with count(): both inputs give the same rows on both
    branches, also when a filter empties the known side under a footer
    bound that still counts its file's rows."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from isen_projet_bigdata_a3s6_spark.operators.joins import (
        haversine_knn_1nn_auto,
        knn_join_1nn_auto,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import (
        footer_row_bound,
        read_parquet_ns_safe,
    )

    rnd = random.Random(7)
    pq.write_table(pa.table({
        "pid": list(range(60)),
        "px": [rnd.uniform(-5, 5) for _ in range(60)],
        "py": [rnd.uniform(40, 50) for _ in range(60)],
    }), str(tmp_path / "p.parquet"))
    pq.write_table(pa.table({
        "kid": list(range(20)),
        "kx": [round(rnd.uniform(-5, 5), 1) for _ in range(20)],
        "ky": [round(rnd.uniform(40, 50), 1) for _ in range(20)],
    }), str(tmp_path / "k.parquet"))
    probes = read_parquet_ns_safe(spark, str(tmp_path / "p.parquet"))
    known = read_parquet_ns_safe(spark, str(tmp_path / "k.parquet"))
    if empty_known:
        known = known.filter(F.col("kx") > 1e9)
    assert (footer_row_bound(probes), footer_row_bound(known)) == (60, 20)
    # the same rows with plans no footer bounds: the count() path
    probes_c = spark.createDataFrame(probes.collect(), probes.schema)
    known_c = spark.createDataFrame(known.collect(), known.schema)
    assert footer_row_bound(probes_c) is None and footer_row_bound(known_c) is None

    def run(p, k):
        if planar:
            out = knn_join_1nn_auto(p, k, "pid", ("px", "py"), ("kx", "ky"), ["kid"],
                                    tiebreak="kid", work_threshold=threshold)
        else:
            out = haversine_knn_1nn_auto(p, k, "pid", ("py", "px"), ("ky", "kx"), ["kid"],
                                         tiebreak="kid", work_threshold=threshold)
        return sorted((r["pid"], r["kid"]) for r in out.collect())

    got = run(probes, known)
    assert got == run(probes_c, known_c)
    assert len(got) == (0 if empty_known else 60)


@pytest.mark.parametrize("name", ["q16_knn_1nn", "q297_haversine_knn"])
def test_small_1nn_leaves_probes_in_place(spark, sf_dir, name):
    """The broadcast 1-NN path (planar q16, haversine q297 at this size)
    runs the cross join on the probes as read: no round-robin exchange."""
    from isen_projet_bigdata_a3s6_spark.queries import queries

    plan = queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan
