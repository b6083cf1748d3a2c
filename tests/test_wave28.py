"""Wave-28 tests: kNN classifier, interval coverage, forecast backtest
— independent recomputation per query."""

import math
from collections import Counter, defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_knn_classifier_matches_python(spark):
    rows = Q._QUERIES["q289_knn_classifier"](spark, SF).collect()
    embs = duck_rows(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    data = {vid: (list(v), lab) for vid, v, lab in embs}
    test_ids = [vid for vid in data if vid >= 480]
    train = {vid: vl for vid, vl in data.items() if vid < 480}
    got = {r["query_id"]: r for r in rows}
    assert set(got) == set(test_ids)
    for qid in test_ids:
        qv, qlab = data[qid]
        qn = math.sqrt(sum(x * x for x in qv))
        scored = []
        for vid, (v, lab) in train.items():
            dot = sum(a * b for a, b in zip(qv, v))
            nb = math.sqrt(sum(x * x for x in v))
            scored.append((round(dot / (qn * nb), 6), vid, lab))
        scored.sort(key=lambda t: (-t[0], t[1]))
        votes = Counter(lab for _, _, lab in scored[:10])
        # majority with smaller-label tie-break
        pred = max(votes, key=lambda lb: (votes[lb], -lb))
        r = got[qid]
        assert r["true_label"] == qlab
        assert r["pred_label"] == pred
        assert r["top_votes"] == votes[pred]
        assert r["correct"] == int(pred == qlab)


def test_interval_coverage_matches_python(spark):
    rows = Q._QUERIES["q290_interval_coverage"](spark, SF).collect()
    evs = duck_rows(
        f"SELECT user_id, ts FROM read_parquet('{SF}/events.parquet')"
    )
    by_user = defaultdict(list)
    for uid, ts in evs:
        by_user[uid].append(ts)
    expect = {}
    for uid, tss in by_user.items():
        ivs = sorted((t, t.timestamp() + 900) for t in tss)
        total, cur_s, cur_e = 0.0, None, None
        for t, e in ((t.timestamp(), e) for t, e in ivs):
            if cur_e is None or t > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = t, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        expect[uid] = int(total)  # floor of whole seconds
    got = {r["user_id"]: r["covered_sec"] for r in rows}
    assert set(got) == set(expect)
    for uid in expect:
        assert abs(got[uid] - expect[uid]) <= 1  # float-ts vs micros floor


def test_interval_coverage_bounds(spark):
    rows = Q._QUERIES["q290_interval_coverage"](spark, SF).collect()
    n_events = duck_rows(
        f"SELECT user_id, COUNT(*) FROM read_parquet('{SF}/events.parquet') GROUP BY 1"
    )
    counts = dict(n_events)
    for r in rows:
        # union length is at most n·900s (disjoint) and at least 900s
        assert 900 <= r["covered_sec"] <= counts[r["user_id"]] * 900


def test_forecast_backtest_matches_python(spark):
    rows = {r["method"]: r for r in Q._QUERIES["q291_forecast_backtest"](spark, SF).collect()}
    daily = duck_rows(
        f"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
            FROM read_parquet('{SF}/orders.parquet') GROUP BY 1 ORDER BY 1"""
    )
    xs = [rev for _, rev in daily]
    alpha, beta = 0.3, 0.1
    level, trend, ew = None, 0.0, None
    errs = {"holt": [], "ewma": [], "naive": []}
    for i, x in enumerate(xs):
        if level is not None:
            errs["holt"].append(x - (level + trend))
            errs["ewma"].append(x - ew)
            errs["naive"].append(x - xs[i - 1])
        if level is None:
            level, trend, ew = x, 0.0, x
        else:
            prev = level
            level = alpha * x + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
            ew = alpha * x + (1 - alpha) * ew
    assert set(rows) == {"holt", "ewma", "naive"}
    for m, es in errs.items():
        n = len(es)
        mae = sum(abs(e) for e in es) / n
        rmse = (sum(e * e for e in es) / n) ** 0.5
        assert rows[m]["n_evaluated"] == n
        assert abs(rows[m]["mae"] - mae) < 1e-4
        assert abs(rows[m]["rmse"] - rmse) < 1e-4
