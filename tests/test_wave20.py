"""Wave-20 tests: ROC/AUC, calibration bins, association rules,
Spearman midranks, co-occurrence PMI — each checked against an
independent Python recomputation."""

import math
from collections import Counter

from conftest import duck_table
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _midranks(values):
    """value -> average (mid) rank, 1-based."""
    c = Counter(values)
    out, below = {}, 0
    for v in sorted(c):
        out[v] = below + (c[v] + 1) / 2.0
        below += c[v]
    return out


def test_roc_auc_matches_rank_formula(spark):
    rows = Q._QUERIES["q257_roc_curve"](spark, SF).collect()
    auc = float(sum(r["auc_term"] for r in rows))
    li = duck_table(SF, "lineitem")
    scores = [r["l_quantity"] for r in li]
    labels = [1 if r["l_returnflag"] == "R" else 0 for r in li]
    mr = _midranks(scores)
    p = sum(labels)
    n = len(labels) - p
    rank_sum_pos = sum(mr[s] for s, y in zip(scores, labels) if y == 1)
    auc_rank = (rank_sum_pos - p * (p + 1) / 2.0) / (p * n)
    assert abs(auc - auc_rank) < 1e-6


def test_roc_curve_shape(spark):
    rows = sorted(
        Q._QUERIES["q257_roc_curve"](spark, SF).collect(),
        key=lambda r: -r["score"],
    )
    # cumulative rates are non-decreasing along the high-score-first sweep
    # and end at (1, 1)
    prev_t = prev_f = 0.0
    for r in rows:
        assert r["tpr"] >= prev_t - 1e-9 and r["fpr"] >= prev_f - 1e-9
        prev_t, prev_f = r["tpr"], r["fpr"]
    assert abs(prev_t - 1.0) < 1e-9 and abs(prev_f - 1.0) < 1e-9


def test_calibration_bins_identity(spark):
    rows = Q._QUERIES["q258_calibration_bins"](spark, SF).collect()
    li = duck_table(SF, "lineitem")
    by_bin = {}
    for r in li:
        b = min(int(r["l_quantity"] // 5), 9)
        p = r["l_quantity"] / 50.0
        y = 1 if r["l_returnflag"] == "R" else 0
        agg = by_bin.setdefault(b, [0, 0.0, 0, 0.0])
        agg[0] += 1
        agg[1] += p
        agg[2] += y
        agg[3] += (p - y) ** 2
    assert {r["bin"] for r in rows} == set(by_bin)
    for r in rows:
        n, sp, sy, sb = by_bin[r["bin"]]
        assert r["n"] == n
        assert abs(r["mean_p"] - sp / n) < 2e-6
        assert abs(r["frac_pos"] - sy / n) < 2e-6
        assert abs(r["brier"] - sb / n) < 2e-6
        assert 0.0 <= r["mean_p"] <= 1.0


def test_association_rules_formulas(spark):
    rows = Q._QUERIES["q259_association_rules"](spark, SF01).collect()
    li = duck_table(SF01, "lineitem")
    baskets = {(r["l_orderkey"], r["l_partkey"] % 50) for r in li}
    n_orders = len({o for o, _ in baskets})
    item = Counter(c for _, c in baskets)
    by_order = {}
    for o, c in baskets:
        by_order.setdefault(o, set()).add(c)
    pair = Counter()
    for cats in by_order.values():
        s = sorted(cats)
        for i, a in enumerate(s):
            for b in s[i + 1 :]:
                pair[(a, b)] += 1
    expect = {k: v for k, v in pair.items() if v >= 25}
    assert {(r["cat_a"], r["cat_b"]) for r in rows} == set(expect)
    for r in rows:
        c_ab = expect[(r["cat_a"], r["cat_b"])]
        c_a, c_b = item[r["cat_a"]], item[r["cat_b"]]
        assert r["n_ab"] == c_ab
        assert abs(r["support"] - c_ab / n_orders) < 2e-6
        assert abs(r["conf_a_b"] - c_ab / c_a) < 2e-6
        assert abs(r["conf_b_a"] - c_ab / c_b) < 2e-6
        assert abs(r["lift"] - c_ab * n_orders / (c_a * c_b)) < 2e-6


def test_spearman_matches_python(spark):
    row = Q._QUERIES["q260_spearman_corr"](spark, SF).collect()[0]
    li = duck_table(SF, "lineitem")
    xs = [r["l_quantity"] for r in li]
    ys = [r["l_extendedprice"] for r in li]
    rx, ry = _midranks(xs), _midranks(ys)
    u = [rx[v] for v in xs]
    w = [ry[v] for v in ys]
    n = len(u)
    su, sw = sum(u), sum(w)
    suw = sum(a * b for a, b in zip(u, w))
    suu = sum(a * a for a in u)
    sww = sum(b * b for b in w)
    rho = (n * suw - su * sw) / math.sqrt(
        (n * suu - su * su) * (n * sww - sw * sw)
    )
    assert row["n"] == n
    assert abs(row["spearman"] - rho) < 2e-6
    assert -1.0 <= row["spearman"] <= 1.0


def test_spearman_perfect_monotone():
    # sanity for the midrank helper itself: strictly increasing -> rho 1
    xs = [1, 2, 3, 4, 5]
    mr = _midranks(xs)
    assert [mr[v] for v in xs] == [1, 2, 3, 4, 5]


def test_cooccurrence_pmi_matches_python(spark):
    rows = Q._QUERIES["q261_cooccurrence_pmi"](spark, SF01).collect()
    docs = duck_table(SF01, "documents")
    unig, pairs = Counter(), Counter()
    for d in docs:
        toks = d["text"].split(" ")
        unig.update(toks)
        for g in (1, 2):
            for a, b in zip(toks[:-g], toks[g:]):
                pairs[(a, b)] += 1
    n_tok = sum(unig.values())
    n_pair = sum(pairs.values())
    expect = {k: v for k, v in pairs.items() if v >= 50}
    assert {(r["w1"], r["w2"]) for r in rows} == set(expect)
    for r in rows:
        c_xy = expect[(r["w1"], r["w2"])]
        pmi = math.log(
            (c_xy / n_pair)
            / ((unig[r["w1"]] / n_tok) * (unig[r["w2"]] / n_tok))
        )
        assert r["n_xy"] == c_xy
        assert abs(r["pmi"] - pmi) < 2e-6
