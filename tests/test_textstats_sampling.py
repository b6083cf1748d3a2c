"""Corpus text statistics + deterministic sampling: hand-computable
fixtures pin semantics; q86-q89 add oracle parity at sf0.01."""

import math

from isen_projet_bigdata_a3s6_spark.operators.sampling import stratified_mod_sample
from isen_projet_bigdata_a3s6_spark.operators.textstats import (
    ngram_contamination,
    repetition_stats,
    tfidf,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b a b a"),          # a:3 b:2
            (2, "x y z"),              # all distinct
            (3, "w w w w"),            # degenerate
        ],
        "doc_id long, text string",
    )


def test_repetition_stats(spark):
    got = {r["doc_id"]: r for r in repetition_stats(_docs(spark), "doc_id", "text").collect()}
    assert (got[1]["n_words"], got[1]["n_distinct"]) == (5, 2)
    assert got[1]["dup_word_frac"] == 1.0 - 2 / 5
    assert got[1]["top_word_frac"] == 3 / 5
    assert got[2]["dup_word_frac"] == 0.0
    assert got[3]["top_word_frac"] == 1.0


def test_tfidf_sklearn_convention(spark):
    out = tfidf(_docs(spark), "doc_id", "text")
    got = {(r["doc_id"], r["word"]): r for r in out.collect()}
    # 'a' appears in 1 of 3 docs, tf=3 in doc 1
    n_docs, df_a, tf_a = 3, 1, 3
    expected = round(tf_a * (math.log((1 + n_docs) / (1 + df_a)) + 1.0), 6)
    assert got[(1, "a")]["tfidf"] == expected
    assert got[(1, "a")]["df"] == 1 and got[(1, "a")]["tf"] == 3
    # every (doc, distinct word) pair present
    assert len(got) == 2 + 3 + 1


def test_ngram_contamination(spark):
    probe = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "p q r s t"), (3, "x y")],  # 3: too short → 0 grams
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "zz a b c d e zz")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           ngram_contamination(probe, corpus, "doc_id", "text", n=5).collect()}
    # probe 1 grams: "a b c d e", "b c d e f"; corpus contains the first only
    assert (got[1]["n_grams"], got[1]["n_matched"]) == (2, 1)
    assert got[1]["contamination_frac"] == 0.5
    assert (got[2]["n_grams"], got[2]["n_matched"]) == (1, 0)
    assert got[3]["n_grams"] == 0 and got[3]["contamination_frac"] is None


def _events(spark, n=2000):
    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, typ string, v double")


def test_mod_sample_rates_and_stability(spark):
    e = _events(spark)
    frac = {"a": 1.0, "b": 0.5}
    out = stratified_mod_sample(e, "id", "typ", frac, default_frac=0.1)
    by_typ = {r["typ"]: r["n"] for r in out.groupBy("typ").count().withColumnRenamed("count", "n").collect()}
    assert by_typ["a"] == 667                       # keep-all stratum: exact
    assert abs(by_typ["b"] / 667 - 0.5) < 0.1       # multiplicative hash ≈ rate
    assert abs(by_typ.get("c", 0) / 666 - 0.1) < 0.07
    # membership is content-derived: identical under different partitioning
    ids1 = sorted(r["id"] for r in out.collect())
    ids2 = sorted(
        r["id"]
        for r in stratified_mod_sample(
            e.repartition(13), "id", "typ", frac, default_frac=0.1
        ).collect()
    )
    assert ids1 == ids2


def test_runlength_udtf_semantics(spark):
    from isen_projet_bigdata_a3s6_spark import queries as reg  # noqa: F401
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, run_start int, run_len int")
    class RunLength:
        def eval(self, text: str):
            if text is None:
                return
            toks = [t for t in text.strip().lower().split() if t]
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield toks[i], i + 1, j - i
                i = j

    spark.udtf.register("runlength_t", RunLength)
    spark.createDataFrame(
        [(1, "a a a b c c"), (2, "x y z"), (3, None)], "doc_id long, text string"
    ).createOrReplaceTempView("__rl_docs")
    rows = {
        (r["doc_id"], r["token"]): (r["run_start"], r["run_len"])
        for r in spark.sql(
            "SELECT doc_id, r.* FROM __rl_docs, LATERAL runlength_t(text) r"
        ).collect()
    }
    assert rows == {(1, "a"): (1, 3), (1, "c"): (5, 2)}


def test_geomean_udaf_matches_numpy(spark):
    import numpy as np

    from isen_projet_bigdata_a3s6_spark.functions.udafs import geo_mean

    vals = [1.0, 2.0, 4.0, 8.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    got = df.groupBy("g").agg(geo_mean("v").alias("gm")).collect()[0]["gm"]
    assert abs(got - float(np.exp(np.mean(np.log(vals))))) < 1e-12


def test_bpe_train_matches_reference(spark):
    from isen_projet_bigdata_a3s6_spark.functions.bpe import EOW, bpe_train

    # classic corpus from the BPE paper (Sennrich et al. 2016, §3.2 example)
    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    df = spark.createDataFrame([(" ".join(corpus),)], "text string")

    def reference(words, n):
        from collections import Counter

        vocab = Counter(words)
        seqs = {w: list(w) + [EOW] for w in vocab}
        rules = []
        for _ in range(n):
            pc = Counter()
            for w, f in vocab.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            # freq desc, then lexicographic pair — same tie-break as the op
            (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if c < 2:
                break
            rules.append((a, b, c))
            for w in seqs:
                s, res, i = seqs[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(a + b); i += 2
                    else:
                        res.append(s[i]); i += 1
                seqs[w] = res
        return rules

    got = bpe_train(df, "text", num_merges=6)
    want = reference(corpus, 6)
    assert got == want
    # paper's first merges: ('e','s') then ('es','t') on this corpus
    assert got[0][:2] == ("e", "s") and got[1][:2] == ("es", "t")


def test_bpe_encode_matches_reference(spark):
    from isen_projet_bigdata_a3s6_spark.functions.bpe import (
        EOW,
        bpe_encode,
        bpe_train,
    )

    corpus = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    train_df = spark.createDataFrame([(" ".join(corpus),)], "text string")
    rules = bpe_train(train_df, "text", num_merges=6)

    def ref_encode(word):
        pairs = [(a, b) for a, b, _ in rules]
        rank = {p: i for i, p in enumerate(pairs)}
        s = list(word) + [EOW]
        while len(s) > 1:
            cands = [(rank[(s[i], s[i + 1])], i) for i in range(len(s) - 1)
                     if (s[i], s[i + 1]) in rank]
            if not cands:
                break
            r, _ = min(cands)
            a, b = pairs[r]
            res, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b); i += 2
                else:
                    res.append(s[i]); i += 1
            s = res
        return len(s)

    docs = spark.createDataFrame(
        [(1, "low lowest newest"), (2, "wider low"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"])
           for r in bpe_encode(docs, "text", rules).collect()}
    assert got[1] == (3, ref_encode("low") + ref_encode("lowest") + ref_encode("newest"))
    assert got[2] == (2, ref_encode("wider") + ref_encode("low"))
    assert got[3] == (0, 0)
