"""Wave-23 tests: negative sampling, sequence patterns, Bradley-Terry,
Mahalanobis outliers — independent recomputation per query."""

import re
from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_negative_sampling_excludes_positives(spark):
    rows = Q._QUERIES["q272_negative_sampling"](spark, SF).collect()
    pos = set(
        duck_rows(
            f"""SELECT DISTINCT o_custkey, l_partkey % 100
            FROM read_parquet('{SF}/lineitem.parquet') l
            JOIN read_parquet('{SF}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey"""
        )
    )
    per_cust = defaultdict(list)
    for r in rows:
        assert (r["cust"], r["item"]) not in pos  # never a true positive
        assert r["item"] == ((r["cust"] % 100000) * 2654435761 + r["trial"] * 40503 + 17) % 100
        per_cust[r["cust"]].append(r["trial"])
    for cust, trials in per_cust.items():
        assert len(trials) <= 3
        # the kept trials are the FIRST surviving ones (determinism)
        survivors = [
            t
            for t in range(8)
            if (cust, ((cust % 100000) * 2654435761 + t * 40503 + 17) % 100)
            not in pos
        ]
        assert sorted(trials) == survivors[:3]


def test_negative_sampling_deterministic(spark):
    a = sorted(
        map(tuple, Q._QUERIES["q272_negative_sampling"](spark, SF).collect())
    )
    b = sorted(
        map(tuple, Q._QUERIES["q272_negative_sampling"](spark, SF).collect())
    )
    assert a == b


def test_sequence_pattern_matches_python(spark):
    rows = Q._QUERIES["q273_sequence_pattern"](spark, SF).collect()
    evs = duck_rows(
        f"SELECT user_id, ts, event_id, event_type FROM "
        f"read_parquet('{SF}/events.parquet')"
    )
    seqs = defaultdict(list)
    for uid, ts, eid, et in evs:
        seqs[uid].append((ts, eid, et[0]))
    strings = {
        uid: "".join(s for _, _, s in sorted(v)) for uid, v in seqs.items()
    }
    got = {r["pattern"]: r["n_users"] for r in rows}
    assert set(got) == {"v.*s.*p", "e.*e.*e", "p.*p"}
    for pat, n in got.items():
        expect = sum(1 for s in strings.values() if re.search(pat, s))
        assert n == expect


def _python_bt(matrix_rows, iters=100):
    players = sorted(
        {r[0] for r in matrix_rows} | {r[1] for r in matrix_rows}
    )
    idx = {p: i for i, p in enumerate(players)}
    k = len(players)
    n = [[0] * k for _ in range(k)]
    w = [0.0] * k
    for s1, s2, games, wins1 in matrix_rows:
        i, j = idx[s1], idx[s2]
        n[i][j] += games
        n[j][i] += games
        w[i] += wins1
        w[j] += games - wins1
    p = [1.0] * k
    for _ in range(iters):
        newp = []
        for i in range(k):
            denom = sum(
                n[i][j] / (p[i] + p[j]) for j in range(k) if n[i][j] and j != i
            )
            newp.append(w[i] / denom if denom > 0 else p[i])
        s = sum(newp)
        p = [x * k / s for x in newp]
    return {pl: p[idx[pl]] for pl in players}


def test_bradley_terry_matches_python(spark):
    rows = Q._QUERIES["q274_bradley_terry"](spark, SF).collect()
    matrix = duck_rows(
        f"""WITH unit AS (
          SELECT l_partkey AS pk, l_suppkey AS s,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4)))
                      / SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS pr
          FROM read_parquet('{SF}/lineitem.parquet') GROUP BY 1, 2
        )
        SELECT a.s, b.s, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN a.pr < b.pr THEN 1 ELSE 0 END) AS BIGINT)
        FROM unit a JOIN unit b ON a.pk = b.pk AND a.s < b.s
        WHERE a.pr <> b.pr
        GROUP BY a.s, b.s"""
    )
    expect = _python_bt(matrix)
    got = {r["supplier"]: r for r in rows}
    assert set(got) == set(expect)
    for s, score in expect.items():
        assert abs(got[s]["bt_score"] - score) < 1e-4
    # better win-rate broadly means better score at the extremes
    by_score = sorted(rows, key=lambda r: -r["bt_score"])
    top, bottom = by_score[0], by_score[-1]
    assert top["wins"] / top["games"] > bottom["wins"] / bottom["games"]


def test_mahalanobis_matches_numpy(spark):
    import numpy as np

    rows = Q._QUERIES["q275_mahalanobis_outliers"](spark, SF).collect()
    data = duck_rows(
        f"SELECT l_returnflag, l_quantity, l_discount FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    by_flag = defaultdict(list)
    for fl, q, d in data:
        by_flag[fl].append((q, d))
    assert {r["flag"] for r in rows} == set(by_flag)
    for r in rows:
        X = np.array(by_flag[r["flag"]])
        mu = X.mean(axis=0)
        cov = np.cov(X.T, ddof=1)
        inv = np.linalg.inv(cov)
        diffs = X - mu
        d2 = np.einsum("ij,jk,ik->i", diffs, inv, diffs)
        assert r["n"] == len(X)
        assert r["n_outliers"] == int((d2 > 13.815510557964274).sum())
        assert abs(r["max_d2"] - d2.max()) < 1e-3
