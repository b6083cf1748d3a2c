"""Round-2 hardening: grid-exact row preservation,
CC pointer-jumping/convergence, reliable checkpointing, cache hygiene,
OLS inference, knn auto-dispatch."""

import pytest
from pyspark.sql import functions as F


def test_grid_exact_residual_fallback_row_preserving(spark):
    """A probe whose NN is far beyond cell_size*2^max_rounds must still
    resolve (broadcast fallback), keeping the join row-preserving."""
    from isen_projet_bigdata_a3s6_spark.operators.joins import (
        knn_join_1nn,
        knn_join_1nn_grid_exact,
    )

    probes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1e6, 1e6)], "pid int, px double, py double"
    )
    known = spark.createDataFrame(
        [(100, 0.5, 0.5, "a"), (200, 3.0, 3.0, "b")],
        "kid int, kx double, ky double, lbl string",
    )
    out = knn_join_1nn_grid_exact(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["lbl"],
        cell_size=1.0, tiebreak="kid", max_rounds=2,
    )
    got = {(r["pid"], r["lbl"]) for r in out.collect()}
    bc = knn_join_1nn(probes, known, "pid", ("px", "py"), ("kx", "ky"), ["lbl"], tiebreak="kid")
    assert got == {(r["pid"], r["lbl"]) for r in bc.collect()}
    assert len(got) == 2  # row-preserving: the far outlier is present


def test_knn_auto_dispatch_both_paths_agree(spark):
    from isen_projet_bigdata_a3s6_spark.operators.joins import knn_join_1nn_auto

    probes = spark.createDataFrame(
        [(i, float(i * 7 % 100), float(i * 13 % 100)) for i in range(80)],
        "pid int, px double, py double",
    )
    known = spark.createDataFrame(
        [(j, float(j * 11 % 100), float(j * 3 % 100)) for j in range(40)],
        "kid int, kx double, ky double",
    )
    small = knn_join_1nn_auto(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["kid"],
        tiebreak="kid", work_threshold=10_000_000,
    )
    big = knn_join_1nn_auto(
        probes, known, "pid", ("px", "py"), ("kx", "ky"), ["kid"],
        tiebreak="kid", work_threshold=0,
    )
    assert sorted((r["pid"], r["kid"]) for r in small.collect()) == sorted(
        (r["pid"], r["kid"]) for r in big.collect()
    )


def test_connected_components_long_chain_pointer_jumping(spark):
    """Path graph with diameter 99: plain hash-to-min needs ~99 rounds;
    pointer jumping converges within max_iter=20 (O(log n))."""
    from isen_projet_bigdata_a3s6_spark.functions.dedup import connected_components

    n = 100
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert len(comp) == n
    assert set(comp.values()) == {0}


def test_connected_components_raises_on_nonconvergence(spark):
    from isen_projet_bigdata_a3s6_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_minhash_pairs_lazy_and_cache_released_by_clear(spark):
    """VERDICT r3 contract: minhash_dedup_pairs is fully LAZY (no eager
    checkpoint — constructing the frame runs no job, the plan stays
    transparent) and its internal signature persist is released by
    spark.catalog.clearCache() (what bench does between runs)."""
    from isen_projet_bigdata_a3s6_spark.functions.dedup import minhash_dedup_pairs

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" * (i % 3)))
         for i in range(20)],
        "doc_id long, text string",
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5)
    # construction is lazy: no Spark job ran, and the plan is the real tree
    # (the signature hashing is visible, not collapsed into a checkpoint
    # scan; the input itself is a local-data ExistingRDD, which is fine)
    assert len(tracker.getJobIdsForGroup() or []) == jobs_before
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan and "InMemoryRelation" in plan
    assert pairs.count() >= 0
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_reliable_checkpoint_mode(spark, tmp_path):
    """With a checkpoint dir configured (Spark's own setCheckpointDir),
    cut_lineage takes the reliable checkpoint() path (the fault-tolerant
    cluster path) end-to-end for CC; without one it stays executor-local.
    The dir is unset again afterwards so later tests run the default
    localCheckpoint path."""
    from isen_projet_bigdata_a3s6_spark.checkpointing import (
        cut_lineage,
        reliable_checkpoint_enabled,
    )
    from isen_projet_bigdata_a3s6_spark.functions.dedup import connected_components

    ckpt = tmp_path / "ckpt"

    def rdd_dirs():
        return len(list(ckpt.glob("*/rdd-*")))

    jsc = spark.sparkContext._jsc.sc()
    assert not reliable_checkpoint_enabled(spark)
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        assert reliable_checkpoint_enabled(spark)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        comp = {r["id"]: r["component"] for r in
                connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        assert rdd_dirs() > 0
        df = spark.range(10).withColumn("v", F.col("id") * 2)
        before = rdd_dirs()
        assert cut_lineage(df).count() == 10
        assert rdd_dirs() == before + 1
    finally:
        # Spark has no public call that unsets the checkpoint dir
        getattr(jsc, "checkpointDir_$eq")(spark.sparkContext._jvm.scala.Option.apply(None))
    assert not reliable_checkpoint_enabled(spark)
    before = rdd_dirs()
    assert cut_lineage(df).count() == 10
    assert rdd_dirs() == before


def test_simple_ols_inference_matches_numpy(spark):
    """Simple-OLS inference (slope std error, t) from the closed-form
    multiple OLS with one regressor, against numpy."""
    import numpy as np

    from isen_projet_bigdata_a3s6_spark.stats.regression import (
        multiple_ols_closed_form,
        simple_ols_df,
    )

    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    ys = [2.1, 4.3, 5.9, 8.2, 9.8, 12.3, 13.9, 16.4]
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = {r["feature"]: r for r in multiple_ols_closed_form(df, "y", ["x"], []).collect()}

    X = np.column_stack([np.ones(len(xs)), xs])
    beta, *_ = np.linalg.lstsq(X, np.array(ys), rcond=None)
    resid = np.array(ys) - X @ beta
    rse = float(np.sqrt((resid**2).sum() / (len(xs) - 2)))
    ssxx = float(((np.array(xs) - np.mean(xs)) ** 2).sum())
    se_slope = rse / ssxx**0.5
    t = beta[1] / se_slope

    slope = got["x"]
    assert slope["coefficient"] == pytest.approx(beta[1], abs=1e-9)
    assert got["intercept"]["coefficient"] == pytest.approx(beta[0], abs=1e-9)
    assert slope["std_error"] == pytest.approx(se_slope, rel=1e-9)
    assert slope["t_value"] == pytest.approx(t, rel=1e-9)

    # the display fit agrees (same data, round6)
    disp = simple_ols_df(df, "y", "x").collect()[0]
    assert disp["slope"] == pytest.approx(beta[1], abs=1e-6)
    assert disp["intercept"] == pytest.approx(beta[0], abs=1e-6)
    assert disp["rse"] == pytest.approx(rse, abs=1e-6)
