"""Degenerate-input hardening (round 4): a 100 TB corpus always contains
empty documents, null text, zero-norm embeddings, and same-microsecond
events. These tests pin the conventions the full sweep
(tools/degenerate_sweep.py) enforces end-to-end:

- undefined ratios (cosine of a zero vector, per-char fractions of an
  empty doc) are NULL — DuckDB's ``x / 0`` — never an ANSI job abort;
- fingerprints and quality scores of absent text are NULL / 0.0, never a
  hash-of-NULL constant that aliases every null row together;
- arg-max-style reductions tie-break on a composite (ts, id) key so the
  winner is one coherent row, deterministically.
"""

import pytest
from pyspark.sql import functions as F


def test_cosine_zero_norm_is_null_not_error(spark):
    from isen_projet_bigdata_a3s6_spark.functions.similarity import cosine

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.5, 0.5]), (2, [0.0, 0.0], [0.5, 0.5])],
        "id int, a array<double>, b array<double>",
    )
    rows = {
        r["id"]: r["c"]
        for r in df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert rows[1] == pytest.approx(0.7071067811865475)
    assert rows[2] is None  # zero norm: undefined, NULL — not a crash


def test_cosine_topk_excludes_zero_norm_rows(spark):
    from isen_projet_bigdata_a3s6_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 6)] + [(99, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 1.0])], "query_id long, embedding array<float>"
    )
    got = cosine_topk(corpus, q, k=10)
    ids = {r["vec_id"] for r in got.collect()}
    assert 99 not in ids and ids == {1, 2, 3, 4, 5}
    # the Arrow twin must agree row-for-row (NaN must never reach the
    # final window — Spark ranks NaN FIRST under desc)
    got_arrow = cosine_topk_arrow(corpus, q, k=10)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, got_arrow.collect()))
    assert a == b


def test_quality_score_empty_and_null_is_zero(spark):
    from isen_projet_bigdata_a3s6_spark.functions.text import quality_score

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "the cat sat on the mat quietly today")],
        "id int, text string",
    )
    rows = {
        r["id"]: r["q"]
        for r in df.select("id", quality_score("text").alias("q")).collect()
    }
    # an empty/null doc earns nothing — not a free 0.25 from the "no
    # punctuation" rule
    assert rows[1] == 0.0 and rows[2] == 0.0
    assert rows[3] == 1.0


def test_fingerprint_null_text_is_null(spark):
    from isen_projet_bigdata_a3s6_spark.functions.text import fingerprint

    df = spark.createDataFrame([(1, None), (2, None), (3, "x")], "id int, text string")
    out = df.select(fingerprint("text").alias("fp"))
    vals = [r["fp"] for r in out.collect()]
    assert vals.count(None) == 2  # not xxhash64's seed constant
    assert df.select(F.countDistinct(fingerprint("text"))).first()[0] == 1


def test_language_id_null_and_empty_are_und(spark):
    from isen_projet_bigdata_a3s6_spark.functions.text import language_id

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the cat and the dog")],
        "id int, text string",
    )
    rows = {
        r["id"]: r["lp"]
        for r in df.select("id", language_id("text").alias("lp")).collect()
    }
    assert rows[1] == "und" and rows[2] == "und" and rows[3] == "und"
    assert rows[4] == "en"


def test_latest_per_key_tie_breaks_coherently(spark):
    from isen_projet_bigdata_a3s6_spark.streaming.upsert import latest_per_key

    df = spark.createDataFrame(
        [
            (7, "2024-01-01 00:00:00", 100, "a", 1.0),
            (7, "2024-01-01 00:00:00", 101, "b", 2.0),  # same ts: higher id wins
            (8, "2024-01-01 00:00:01", 50, "c", 3.0),
        ],
        "user_id long, ts string, event_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["user_id"]: r for r in latest_per_key(df).collect()}
    # every column comes from the SAME winning row (event 101), never a
    # stitched row that never existed
    assert out[7]["event_id"] == 101
    assert out[7]["event_type"] == "b"
    assert out[7]["value"] == 2.0
    assert out[8]["event_id"] == 50


def test_event_order_key_ohlc_tie(spark):
    # the q124 convention: open/close keyed on the packed (ts, event_id)
    # decimal — equivalent to lexicographic (ts, event_id) order but keeps
    # min_by/max_by on the Tungsten hash-aggregate path (a struct key
    # demotes the aggregate to Sort+SortAggregate)
    from isen_projet_bigdata_a3s6_spark.functions.scalar import event_order_key

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", 1, 10.0),
            ("2024-01-01 00:00:00", 2, 20.0),  # same ts: higher id is later
            ("2024-01-01 00:00:05", 3, 15.0),
        ],
        "ts string, event_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    ordk = event_order_key("ts", "event_id")
    r = df.agg(
        F.min_by("value", ordk).alias("open"), F.max_by("value", ordk).alias("close")
    ).first()
    assert r["open"] == 10.0  # earliest (ts, event_id)
    assert r["close"] == 15.0
    # plan stays hash-aggregable with the decimal key
    plan = df.groupBy().agg(F.min_by("value", ordk))._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "SortAggregate" not in plan


def test_empty_input_library_operators(spark):
    """Empty-in/empty-out across the driver-iterative operators: a no-data
    day must produce empty (schema-correct) results, not a .first()[0]
    crash that kills the scheduled pipeline run."""
    from isen_projet_bigdata_a3s6_spark.functions.similarity import (
        cosine_topk_arrow,
        kcenter_select,
    )
    from isen_projet_bigdata_a3s6_spark.operators.graph import (
        pagerank,
        pagerank_convergence,
    )
    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        histogram_build,
        histogram_quantiles,
    )

    no_edges = spark.createDataFrame([], "src long, dst long")
    pr = pagerank(no_edges)
    assert pr.count() == 0 and set(pr.columns) == {"node", "rank"}
    diag = pagerank_convergence(no_edges)
    assert diag.count() == 0 and "l1_delta" in diag.columns

    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    sel = kcenter_select(no_vecs, "embedding", "vec_id", k=3)
    assert sel.count() == 0 and set(sel.columns) == {"step", "vec_id", "radius"}

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    no_queries = spark.createDataFrame([], "query_id long, embedding array<float>")
    topk = cosine_topk_arrow(corpus, no_queries, k=5)
    assert topk.count() == 0
    assert set(topk.columns) == {"query_id", "vec_id", "score", "rank"}

    no_vals = spark.createDataFrame([], "x double")
    hist, lo, hi = histogram_build(no_vals, "x", bins=16)
    assert hist.count() == 0
    assert histogram_quantiles(hist, lo, hi, 16, [0.5]).count() == 0


def test_empty_input_ml_fits(spark):
    from isen_projet_bigdata_a3s6_spark.ml.pipeline import (
        fit_logistic,
        fit_multiple_ols,
    )

    empty = spark.createDataFrame([], "y double, x double, g string")
    model, summary = fit_multiple_ols(empty, "y", ["x"], ["g"])
    assert model is None and summary.count() == 0
    assert "coefficient" in summary.columns
    model, scored = fit_logistic(empty, "y", ["x"], ["g"])
    assert model is None and scored.count() == 0


def test_try_parse_json_tolerates_garbage(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 3}'), (2, "not json"), (3, "")], "id int, props string"
    )
    out = df.select(
        F.variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("k")
    )
    vals = sorted([r["k"] for r in out.collect()], key=lambda x: (x is None, x))
    assert vals == [3, None, None]
