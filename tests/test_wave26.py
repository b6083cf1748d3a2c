"""Wave-26 tests: price-volume-mix, transition dwell, column stats —
independent recomputation per query."""

from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_price_volume_mix_reconstructs_delta(spark):
    rows = Q._QUERIES["q283_price_volume_mix"](spark, SF).collect()
    data = duck_rows(
        f"""SELECT l_returnflag, year(l_shipdate), l_quantity, l_extendedprice
            FROM read_parquet('{SF}/lineitem.parquet')
            WHERE year(l_shipdate) IN (1995, 1996)"""
    )
    agg = defaultdict(lambda: [0.0, 0.0, 0.0, 0.0])  # q0 r0 q1 r1
    for fl, yr, q, r in data:
        a = agg[fl]
        if yr == 1995:
            a[0] += q
            a[1] += r
        else:
            a[2] += q
            a[3] += r
    assert {r["flag"] for r in rows} == set(agg)
    for r in rows:
        q0, r0, q1, r1 = agg[r["flag"]]
        assert abs(r["delta"] - (r1 - r0)) < 1e-2
        vol = (q1 - q0) * (r0 / q0)
        price = q1 * (r1 / q1 - r0 / q0)
        assert abs(r["volume_effect"] - vol) < 1e-2
        assert abs(r["price_effect"] - price) < 1e-2
        # the decomposition is additive by construction
        assert abs((r["volume_effect"] + r["price_effect"]) - r["delta"]) < 1e-2


def test_transition_dwell_matches_python(spark):
    rows = Q._QUERIES["q284_transition_dwell"](spark, SF).collect()
    evs = sorted(
        duck_rows(
            f"SELECT user_id, ts, event_id, event_type FROM "
            f"read_parquet('{SF}/events.parquet')"
        )
    )
    agg = defaultdict(lambda: [0, 0.0])
    prev = {}
    for uid, ts, eid, et in evs:
        if uid in prev:
            pts, pet = prev[uid]
            a = agg[(pet, et)]
            a[0] += 1
            a[1] += (ts - pts).total_seconds()
        prev[uid] = (ts, et)
    assert {(r["from_type"], r["to_type"]) for r in rows} == set(agg)
    for r in rows:
        n, tot = agg[(r["from_type"], r["to_type"])]
        assert r["n"] == n
        assert abs(r["mean_dwell_sec"] - tot / n) < 1e-3


def test_column_stats_matches_duckdb(spark):
    rows = {r["col"]: r for r in Q._QUERIES["q285_column_stats"](spark, SF).collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_returnflag"}
    for col in ("l_quantity", "l_extendedprice"):
        exp = duck_rows(
            f"""SELECT COUNT(DISTINCT {col}), MIN({col}), MAX({col}),
                       quantile_cont({col}, 0.5)
                FROM read_parquet('{SF}/lineitem.parquet')"""
        )[0]
        r = rows[col]
        assert r["ndv"] == exp[0]
        assert r["nulls"] == 0
        assert float(r["min_val"]) == exp[1]
        assert float(r["max_val"]) == exp[2]
        assert abs(r["p50"] - exp[3]) < 1e-6
        assert r["p25"] <= r["p50"] <= r["p75"]
    r = rows["l_returnflag"]
    assert r["ndv"] == 3 and r["p50"] is None
    assert r["min_val"] == "A" and r["max_val"] == "R"
