"""Round-4 verdict/advice fixes, pinned as tests:

1. q261's gap-pair slice is clamped at length 0 — a 1-token document used
   to abort the whole query with INVALID_PARAMETER_VALUE.LENGTH.
2. q133 returns scalar (vec_id, pc_pos, pc_value) rows — the driver's
   rows-only canonicalizer sorts the frame and cannot sort array cells
   (the r03 `err`).
3. Sink/roundtrip queries write under ONE per-session scratch dir instead
   of leaking a fresh mkdtemp per call (bench best-of-N reps).
4. oracle_check.compare_frames flags int-vs-float dtype drift — the
   r02/r03 q86/q139 failure mode (DuckDB HUGEINT → float64 vs Spark
   BIGINT hash-differ in the driver even when values match).
5. Golden anchor: logistic precision 0.92 (R_groupe4.R:1002-1011,
   BASELINE.md row 21) asserted through q44's fixed-round IRLS fit and
   the confusion matrix of its quantized coefficients.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# 1. q261 single-token document
# ---------------------------------------------------------------------------
def test_q261_survives_single_token_docs(spark, tmp_path):
    from isen_projet_bigdata_a3s6_spark.queries import queries

    docs = spark.createDataFrame(
        [
            (1, "alpha"),                      # 1 token: n-2 = -1 before the clamp
            (2, "beta"),
            (3, "alpha beta gamma alpha beta gamma " * 20),
            (4, "alpha beta gamma delta " * 30),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = queries()["q261_cooccurrence_pmi"](spark, str(tmp_path)).collect()
    assert isinstance(out, list)  # completes without INVALID_PARAMETER_VALUE


# ---------------------------------------------------------------------------
# 2. q133 scalar output (driver canonicalizer sortability)
# ---------------------------------------------------------------------------
def test_q133_output_is_scalar_and_sortable(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark.queries import queries

    df = queries()["q133_pca_project"](spark, sf_dir)
    for f in df.schema.fields:
        assert not str(f.dataType).startswith("ArrayType"), f
    pdf = df.limit(200).toPandas()
    # exactly what the driver canonicalizer does and crashed on in r03
    pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    assert set(pdf.columns) == {"vec_id", "pc_pos", "pc_value"}


# ---------------------------------------------------------------------------
# 3. per-session scratch dir
# ---------------------------------------------------------------------------
def test_scratch_dir_is_stable_and_wiped(spark):
    from isen_projet_bigdata_a3s6_spark.queries import _scratch_dir

    d1 = _scratch_dir(spark, "round4_test")
    marker = os.path.join(d1, "stale")
    with open(marker, "w") as f:
        f.write("x")
    d2 = _scratch_dir(spark, "round4_test")
    assert d1 == d2  # same path every call within a session
    assert not os.path.exists(marker)  # wiped on re-entry
    assert spark.sparkContext.applicationId in d1


def test_sink_queries_reuse_one_directory(spark, sf_dir):
    """Repeated invocations of a sink query (the bench best-of-N shape)
    must not accumulate table copies on disk."""
    import tempfile

    from isen_projet_bigdata_a3s6_spark.queries import queries

    q = queries()["q52_csv_roundtrip"]
    q(spark, sf_dir).collect()
    q(spark, sf_dir).collect()
    root = os.path.join(
        tempfile.gettempdir(), f"a3s6_scratch_{spark.sparkContext.applicationId}"
    )
    assert len(os.listdir(os.path.join(root, "csv_sink"))) >= 1
    # parent scratch root holds tagged dirs, not one dir per invocation
    assert sum(1 for d in os.listdir(root) if d.startswith("csv_sink")) == 1


# ---------------------------------------------------------------------------
# 4. dtype-parity assertion in the local oracle gate
# ---------------------------------------------------------------------------
def test_compare_frames_flags_int_float_drift():
    from isen_projet_bigdata_a3s6_spark.oracle_check import compare_frames

    spark_side = pd.DataFrame({"k": [1, 2], "n": pd.array([32, 18], dtype="int64")})
    oracle_side = pd.DataFrame({"k": [1, 2], "n": pd.array([32.0, 18.0], dtype="float64")})
    res = compare_frames("t", spark_side, oracle_side)
    assert not res.ok
    assert any("dtype class differs" in m for m in res.mismatches)
    # identical dtypes still pass
    res2 = compare_frames("t2", spark_side, spark_side.copy())
    assert res2.ok


# ---------------------------------------------------------------------------
# 5. logistic precision anchor through an actual fit
# ---------------------------------------------------------------------------
def test_anchor_logistic_precision_via_fit(spark):
    """BASELINE.md row 21: precision 0.92 at threshold 0.5 (R_groupe4.R:
    1002-1011; Rapport Fonctionnalité 5), through q44's registered path:
    the fixed-round IRLS fit and the confusion matrix of its quantized
    coefficients. Two-level
    design, so the logistic MLE reproduces the empirical class rates
    exactly: P(y=1|x=+2) = 92/100 = 0.92 -> predicted positive,
    P(y=1|x=-2) = 9/579 -> predicted negative. Precision is then exactly
    92/100."""
    from isen_projet_bigdata_a3s6_spark.ml.irls import logistic_confusion_closed

    rows = (
        [(2.0, 1.0)] * 92 + [(2.0, 0.0)] * 8
        + [(-2.0, 0.0)] * 570 + [(-2.0, 1.0)] * 9
    )
    df = spark.createDataFrame(rows, "x double, label double")
    cm = {
        (r["label"], r["prediction"]): r["n"]
        for r in logistic_confusion_closed(df, "label", ["x"], []).collect()
    }
    assert cm == {(1, 1): 92, (0, 1): 8, (0, 0): 570, (1, 0): 9}
    tp, fp = cm[(1, 1)], cm[(0, 1)]
    assert tp / (tp + fp) == pytest.approx(0.92, abs=0)


# ---------------------------------------------------------------------------
# 7. q212 excludes token-empty docs (same slice-edge class as q261)
# ---------------------------------------------------------------------------
def test_q212_excludes_token_empty_docs(spark, tmp_path):
    """A doc whose text tokenizes to nothing must produce NO output row
    (oracle: `WHERE len(t) > 0`); before the fix the descending chunk-index
    sequence emitted two ""-chunks and kept the doc with garbage counts."""
    from isen_projet_bigdata_a3s6_spark.queries import queries

    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b a b c d")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = queries()["q212_intra_doc_dedup"](spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in rows) == [3]
    r3 = next(r for r in rows if r["doc_id"] == 3)
    # chunks: ["a b", "a b", "c d"] -> 3 total, 2 distinct (keep-first)
    assert r3["total_chunks"] == 3 and r3["kept_chunks"] == 2


# ---------------------------------------------------------------------------
# 8. scale-killer plan guard over the whole bench headline set
# ---------------------------------------------------------------------------
def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("disable_broadcast", [False, True])
def test_headline_plans_have_no_scale_killers(spark, sf_dir, disable_broadcast):
    """Every bench headline query must plan without CartesianProduct or
    BroadcastNestedLoopJoin — in the default regime AND with the broadcast
    threshold disabled (the 100 TB build-side regime, where a nested-loop
    fallback would be a cluster-killer). The only sanctioned pattern is a
    1-row scalar broadcast (BroadcastNestedLoopJoin whose build side is a
    single-row aggregate), which Spark uses for literal-free crossJoin of
    an agg scalar; those are asserted to carry a 1-row HashAggregate build."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", __file__.replace("tests/test_round4_fixes.py", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from isen_projet_bigdata_a3s6_spark.queries import queries

    qs = queries()
    # sanctioned BNLJ sites — broadcasts BOUNDED by contract, not by data
    # volume, so they survive a 100 TB probe side:
    #   q16: knn_join_1nn_auto's small-work regime broadcasts the known
    #        side (the reference's 1-NN shape); above the work threshold
    #        the grid-exact equi-join path dispatches instead
    #        (tests/test_joins.py pins both regimes).
    #   q41: ANN brute force broadcasts the QUERY vectors (≤ k rows by
    #        contract, functions/similarity.py) against the corpus scan.
    sanctioned_bnlj = {"q16_knn_1nn", "q41_ann_bruteforce"}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if disable_broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from isen_projet_bigdata_a3s6_spark.plans.guard import (
            scale_killer_flags,
        )

        offenders = {}
        for name in bench.HEADLINE:
            # per-node judgment (plans/guard.py): each flagged join is
            # exempt only when its OWN build side is bounded by
            # construction — the former plan-wide scalar-agg count let a
            # data-sized cartesian hide behind an unrelated global scalar
            flags = scale_killer_flags(qs[name](spark, sf_dir))
            if name in sanctioned_bnlj:
                flags = [
                    f
                    for f in flags
                    if not f.startswith("BroadcastNestedLoopJoin")
                ]
            if flags:
                offenders[name] = "+".join(flags)
        assert not offenders, offenders
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.catalog.clearCache()
