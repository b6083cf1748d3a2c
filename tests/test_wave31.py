"""Wave-31 tests: Fellegi-Sunter scoring, haversine 1-NN."""

import math
from collections import Counter, defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_fellegi_sunter_matches_python(spark):
    rows = Q._QUERIES["q296_fellegi_sunter"](spark, SF).collect()
    custs = duck_rows(
        f"SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal, c_name "
        f"FROM read_parquet('{SF}/customer.parquet')"
    )
    recs = [
        (k, nk, seg, math.floor(bal / 1000.0), name[-1])
        for k, nk, seg, bal, name in custs
    ]
    n = len(recs)

    def u(vals):
        c = Counter(vals)
        return sum(v * v for v in c.values()) / (n * n)

    u_seg = u([r[2] for r in recs])
    u_bal = u([r[3] for r in recs])
    u_dig = u([r[4] for r in recs])
    patterns = Counter()
    by_blk = defaultdict(list)
    for r in recs:
        by_blk[r[1]].append(r)
    for blk in by_blk.values():
        for i, a in enumerate(blk):
            for b in blk[i + 1 :]:
                if a[0] == b[0]:
                    continue
                patterns[
                    (int(a[2] == b[2]), int(a[3] == b[3]), int(a[4] == b[4]))
                ] += 1

    def w(agree, uf):
        return math.log(0.9 / uf) if agree else math.log(0.1 / (1 - uf))

    got = {(r["a_seg"], r["a_bal"], r["a_dig"]): r for r in rows}
    assert set(got) == set(patterns)
    for pat, cnt in patterns.items():
        r = got[pat]
        assert r["n_pairs"] == cnt
        score = w(pat[0], u_seg) + w(pat[1], u_bal) + w(pat[2], u_dig)
        assert abs(r["score"] - score) < 2e-6
    # full-agreement scores above full-disagreement (weight ordering)
    if (1, 1, 1) in got and (0, 0, 0) in got:
        assert got[(1, 1, 1)]["score"] > got[(0, 0, 0)]["score"]


def _haversine(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1) / 2
    dl = math.radians(lon2 - lon1) / 2
    h = math.sin(dp) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
    return 2 * 6371.0088 * math.asin(math.sqrt(h))


def test_haversine_knn_matches_python(spark):
    rows = Q._QUERIES["q297_haversine_knn"](spark, SF).collect()
    custs = duck_rows(
        f"SELECT c_custkey FROM read_parquet('{SF}/customer.parquet')"
    )
    supps = duck_rows(
        f"SELECT s_suppkey FROM read_parquet('{SF}/supplier.parquet')"
    )
    spos = [
        (k, 41.0 + (k * 31 % 1000) * 0.009, -5.0 + (k * 13 % 1000) * 0.01)
        for (k,) in supps
    ]
    got = {r["c_custkey"]: r for r in rows}
    assert set(got) == {k for (k,) in custs}
    for (ck,) in custs:
        clat = 41.0 + ((ck * 7) % 1000) * 0.009
        clon = -5.0 + (ck % 1000) * 0.01
        best = min(
            (round(_haversine(clat, clon, la, lo), 6), sk)
            for sk, la, lo in spos
        )
        r = got[ck]
        assert (r["d_km"], r["nearest_supp"]) == best


def test_haversine_known_distance():
    # Paris (48.8566, 2.3522) -> London (51.5074, -0.1278) ~ 343.5 km
    d = _haversine(48.8566, 2.3522, 51.5074, -0.1278)
    assert abs(d - 343.5) < 1.5
