"""Dedup + similarity-search behavior on synthetic near-duplicates."""

import numpy as np
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark.functions.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from isen_projet_bigdata_a3s6_spark.functions.similarity import (
    cosine_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("afternoon", "morning")),  # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "another unrelated document mentioning parquet and columnar io"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_dups(spark):
    pairs = minhash_dedup_pairs(
        _docs(spark), "text", "doc_id", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup: jaccard 1.0
    assert (1, 3) in found or (2, 3) in found  # near dup
    assert all(b not in (4, 5) or a not in (1, 2, 3) for a, b in found)


def test_simhash_near_dups(spark):
    pairs = simhash_dedup_pairs(_docs(spark), "text", "doc_id", max_hamming=10)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found


def test_ngram_jaccard_exact_value(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.2)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals.get((1, 2)) == 1.0


def test_cosine_topk_self_first(spark):
    rng = np.random.default_rng(0)
    vecs = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(df, q, k=3)
    first = {r["query_id"]: r["vec_id"] for r in top.filter(F.col("rank") == 1).collect()}
    assert first == {0: 0, 1: 1, 2: 2}  # self is nearest (cos=1)


def test_lsh_topk_recall_at_least_half(spark, sf_dir):
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, dim=64, num_bits=16, bands=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) >= len(e) // 2  # recall ≥ 0.5 with 8 bands


def test_connected_components_transitive(spark):
    from isen_projet_bigdata_a3s6_spark.functions.dedup import connected_components

    # chain 1-2, 2-3 (transitive cluster {1,2,3}), island 7-8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_cosine_topk_arrow_equals_jvm(spark, sf_dir):
    from pyspark.sql import functions as F

    from isen_projet_bigdata_a3s6_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )
    from isen_projet_bigdata_a3s6_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    jvm = cosine_topk(emb, q, k=7, query_id="query_id")
    arrow = cosine_topk_arrow(emb, q, k=7, query_id="query_id")
    # identical result sets INCLUDING scores: the sequential index sweep
    # reproduces the JVM fold bit-for-bit
    assert sorted(map(tuple, jvm.collect())) == sorted(map(tuple, arrow.collect()))


def test_jaccard_prefix_join_complete_vs_naive(spark):
    """Prefix filtering must return EXACTLY the naive all-pairs result."""
    from isen_projet_bigdata_a3s6_spark.functions.dedup import jaccard_prefix_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different sentence entirely"),
        (4, "the quick brown fox jumps over a lazy dog"),
        (5, "lorem ipsum dolor sit amet consectetur"),
        (6, "lorem ipsum dolor sit amet elit"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    toks = {i: set(t.lower().split()) for i, t in docs}
    want = {}
    for a in toks:
        for b in toks:
            if a < b:
                j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
                if j >= 0.5:
                    want[(a, b)] = j
    assert set(got) == set(want) and len(want) >= 2
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


def test_jaccard_prefix_join_threshold_guard(spark):
    import pytest as _pytest

    from isen_projet_bigdata_a3s6_spark.functions.dedup import jaccard_prefix_pairs

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        jaccard_prefix_pairs(df, "doc_id", "text", threshold=0.0)
