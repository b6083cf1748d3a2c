"""Wave-29 tests: log-rank test, subsample bootstrap CI — independent
recomputation per query."""

import math
from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_logrank_matches_python(spark):
    row = Q._QUERIES["q292_logrank_test"](spark, SF).collect()[0]
    evs = duck_rows(
        f"SELECT user_id, CAST(ts AS DATE), event_type FROM "
        f"read_parquet('{SF}/events.parquet')"
    )
    first, last, first_p = {}, {}, {}
    for uid, d, et in evs:
        if uid not in first or d < first[uid]:
            first[uid] = d
        if uid not in last or d > last[uid]:
            last[uid] = d
        if et == "purchase" and (uid not in first_p or d < first_p[uid]):
            first_p[uid] = d
    users = []
    for uid in first:
        if uid in first_p:
            dur, ev = (first_p[uid] - first[uid]).days, 1
        else:
            dur, ev = (last[uid] - first[uid]).days, 0
        users.append((dur, ev, uid % 2))
    # hypergeometric accumulation over distinct event times
    times = sorted({d for d, ev, g in users if ev})
    o1 = e1 = v1 = 0.0
    for t in times:
        at_risk = [(ev, g) for d, ev, g in users if d >= t]
        n = len(at_risk)
        n1 = sum(g for _, g in at_risk)
        d_t = sum(ev for d, ev, g in users if d == t)
        d1_t = sum(ev * g for d, ev, g in users if d == t)
        o1 += d1_t
        e1 += round(d_t * n1 / n, 9)
        if n > 1:
            v1 += round(
                d_t * (n1 / n) * (1 - n1 / n) * (n - d_t) / (n - 1), 9
            )
    assert row["observed_1"] == int(o1)
    assert abs(row["expected_1"] - e1) < 1e-5
    assert abs(row["variance_1"] - v1) < 1e-5
    assert abs(row["z"] - (o1 - e1) / math.sqrt(v1)) < 1e-4
    assert abs(row["chi2"] - (o1 - e1) ** 2 / v1) < 1e-4


def test_logrank_identical_groups_is_zero():
    # same survival in both arms -> O == E exactly when the groups are
    # interchangeable at every time (sanity of the accumulation)
    users = [(5, 1, 0), (5, 1, 1), (9, 0, 0), (9, 0, 1)]
    times = sorted({d for d, ev, g in users if ev})
    o1 = e1 = 0.0
    for t in times:
        at_risk = [(ev, g) for d, ev, g in users if d >= t]
        n = len(at_risk)
        n1 = sum(g for _, g in at_risk)
        d_t = sum(ev for d, ev, g in users if d == t)
        d1_t = sum(ev * g for d, ev, g in users if d == t)
        o1 += d1_t
        e1 += d_t * n1 / n
    assert abs(o1 - e1) < 1e-12


def test_bootstrap_ci_matches_python(spark):
    row = Q._QUERIES["q293_bootstrap_ci"](spark, SF).collect()[0]
    orders = duck_rows(
        f"SELECT o_orderkey, o_totalprice FROM read_parquet('{SF}/orders.parquet')"
    )
    means = []
    for b in range(50):
        xs = [
            p
            for k, p in orders
            if ((k % 1000000) * 2654435761 + b * 40503 + 11) % 1000 < 500
        ]
        means.append(round(sum(xs) / len(xs), 9))
    means.sort()

    def qtile(xs, p):
        k = (len(xs) - 1) * p
        f, c = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[f] + (xs[c] - xs[f]) * (k - f)

    full = sum(p for _, p in orders) / len(orders)
    assert row["n_replicates"] == 50
    assert abs(row["mean_full"] - full) < 1e-3
    assert abs(row["ci_lo"] - qtile(means, 0.05)) < 1e-3
    assert abs(row["ci_hi"] - qtile(means, 0.95)) < 1e-3
    # the interval brackets the point estimate for this well-behaved mean
    assert row["ci_lo"] <= row["mean_full"] <= row["ci_hi"]
