"""Wave-27 tests: Holt forecast, containment join, ABC-XYZ —
independent recomputation per query."""

import math
from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_holt_matches_python_recursion(spark):
    rows = sorted(
        Q._QUERIES["q286_holt_forecast"](spark, SF).collect(),
        key=lambda r: r["day"],
    )
    daily = duck_rows(
        f"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
            FROM read_parquet('{SF}/orders.parquet') GROUP BY 1 ORDER BY 1"""
    )
    alpha, beta = 0.3, 0.1
    level, trend = None, 0.0
    expect = []
    for day, rev in daily:
        if level is None:
            level, trend = rev, 0.0
        else:
            prev = level
            level = alpha * rev + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        expect.append((day, rev, level, trend, level + trend))
    assert len(rows) == len(expect)
    for r, (day, rev, lv, tr, fc) in zip(rows, expect):
        assert r["day"] == day
        assert abs(r["rev"] - rev) < 1e-2
        assert abs(r["level"] - lv) < 1e-4
        assert abs(r["trend"] - tr) < 1e-4
        assert abs(r["forecast_next"] - fc) < 1e-4


def test_holt_tracks_linear_trend():
    # on a perfectly linear series the forecast converges toward the
    # next true value (trend captured), unlike single EWMA which lags
    alpha, beta = 0.3, 0.1
    series = [10.0 + 5.0 * i for i in range(60)]
    level, trend = None, 0.0
    for x in series:
        if level is None:
            level, trend = x, 0.0
        else:
            prev = level
            level = alpha * x + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
    next_true = 10.0 + 5.0 * 60
    assert abs((level + trend) - next_true) < 2.0  # converged near truth


def _shingles(text, n=8):
    t = " ".join(text.lower().strip().split())
    return {t[i : i + n] for i in range(len(t) - n + 1)} if len(t) >= n else set()


def test_containment_matches_naive_python(spark):
    rows = Q._QUERIES["q287_containment_join"](spark, SF).collect()
    docs = duck_rows(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    sets = {did: _shingles(tx) for did, tx in docs}
    expect = {}
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            c = len(sa & sb) / len(sa)
            if c >= 0.85:
                expect[(a, b)] = c
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


def test_containment_asymmetric_by_construction():
    # a short doc inside a long one: containment 1.0 one way, low Jaccard
    short = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}token{i * 7}" for i in range(80))
    long_ = short + " " + filler
    sa, sb = _shingles(short), _shingles(long_)
    assert len(sa & sb) / len(sa) > 0.95  # contained
    assert len(sa & sb) / len(sa | sb) < 0.2  # Jaccard misses it


def test_abc_xyz_matches_python(spark):
    rows = Q._QUERIES["q288_abc_xyz"](spark, SF).collect()
    li = duck_rows(
        f"""SELECT l_partkey, year(l_shipdate)*12 + month(l_shipdate),
                   l_quantity, l_extendedprice
            FROM read_parquet('{SF}/lineitem.parquet')"""
    )
    rev = defaultdict(float)
    qty = defaultdict(lambda: defaultdict(float))
    for pk, m, q, p in li:
        rev[pk] += p
        qty[pk][m] += q
    order = sorted(rev, key=lambda pk: (-rev[pk], pk))
    tot = sum(rev.values())
    cum, abc = 0.0, {}
    for pk in order:
        cum += rev[pk]
        abc[pk] = "A" if cum / tot <= 0.5 else ("B" if cum / tot <= 0.8 else "C")
    xyz = {}
    for pk, months in qty.items():
        vals = list(months.values())
        n = len(vals)
        if n > 1:
            mean = sum(vals) / n
            var = (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1)
            cv = math.sqrt(var) / mean
        else:
            cv = 0.0
        xyz[pk] = "X" if cv < 0.5 else ("Y" if cv < 1.0 else "Z")
    cells = defaultdict(int)
    for pk in rev:
        cells[(abc[pk], xyz[pk])] += 1
    got = {(r["abc"], r["xyz"]): r["n_parts"] for r in rows}
    assert got == dict(cells)
