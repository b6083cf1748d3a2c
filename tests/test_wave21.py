"""Wave-21 tests: cohort LTV, grouped OLS, compression ratio, YoY
growth, session paths — independent Python recomputation per query."""

import zlib
from collections import Counter, defaultdict

from conftest import duck_table
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_cohort_ltv_matches_python(spark):
    rows = Q._QUERIES["q262_cohort_ltv"](spark, SF).collect()
    orders = duck_table(SF, "orders")
    first = {}
    for o in orders:
        d = o["o_orderdate"]
        k = o["o_custkey"]
        if k not in first or d < first[k]:
            first[k] = d
    cohort_of = {k: f"{d.year}-{d.month:02d}" for k, d in first.items()}
    sizes = Counter(cohort_of.values())
    monthly = defaultdict(float)
    for o in orders:
        c = cohort_of[o["o_custkey"]]
        fy, fm = map(int, c.split("-"))
        age = (o["o_orderdate"].year * 12 + o["o_orderdate"].month) - (
            fy * 12 + fm
        )
        monthly[(c, age)] += o["o_totalprice"]
    # cumulative per cohort
    cum = {}
    for c in sizes:
        run = 0.0
        for age in sorted(a for (cc, a) in monthly if cc == c):
            run += monthly[(c, age)]
            cum[(c, age)] = run
    assert {(r["cohort"], r["age"]) for r in rows} == set(cum)
    for r in rows:
        assert r["n_customers"] == sizes[r["cohort"]]
        assert abs(r["cum_rev"] - cum[(r["cohort"], r["age"])]) < 1e-2
        assert (
            abs(r["ltv"] - cum[(r["cohort"], r["age"])] / sizes[r["cohort"]])
            < 1e-4
        )


def test_cohort_ltv_monotone(spark):
    rows = Q._QUERIES["q262_cohort_ltv"](spark, SF).collect()
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort"]].append((r["age"], r["ltv"]))
    for seq in by_cohort.values():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            assert b >= a - 1e-9  # cumulative revenue never decreases


def test_grouped_ols_matches_python(spark):
    rows = Q._QUERIES["q263_grouped_ols"](spark, SF).collect()
    li = duck_table(SF, "lineitem")
    by_flag = defaultdict(list)
    for r in li:
        by_flag[r["l_returnflag"]].append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    assert {r["flag"] for r in rows} == set(by_flag)
    for r in rows:
        pts = by_flag[r["flag"]]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        icept = (sy - slope * sx) / n
        r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        assert r["n"] == n
        assert abs(r["slope"] - slope) < 1e-4
        assert abs(r["intercept"] - icept) < 1e-3
        assert abs(r["r2"] - r2) < 1e-5
        assert 0.0 <= r["r2"] <= 1.0


def test_compression_ratio_matches_zlib(spark):
    rows = Q._QUERIES["q264_compression_ratio"](spark, SF).collect()
    docs = {d["doc_id"]: d["text"] for d in duck_table(SF, "documents")}
    assert {r["doc_id"] for r in rows} == set(docs)
    for r in rows:
        raw = docs[r["doc_id"]].encode("utf-8")
        comp = zlib.compress(raw, 6)
        assert r["raw_bytes"] == len(raw)
        assert r["comp_bytes"] == len(comp)
        assert abs(r["ratio"] - len(comp) / len(raw)) < 2e-6
        assert r["low_complexity"] == (len(comp) / len(raw) < 0.3)


def test_compression_ratio_orders_redundancy():
    # invariant the quality signal relies on: repetition compresses better
    rep = b"spark " * 200
    div = bytes(range(256)) * 5  # incompressible byte spread, same length ballpark
    assert len(zlib.compress(rep, 6)) / len(rep) < len(
        zlib.compress(div, 6)
    ) / len(div)


def test_yoy_growth_matches_python(spark):
    rows = Q._QUERIES["q265_yoy_growth"](spark, SF).collect()
    monthly = defaultdict(float)
    for o in duck_table(SF, "orders"):
        monthly[(o["o_orderdate"].year, o["o_orderdate"].month)] += o[
            "o_totalprice"
        ]
    expect = {
        (y, m): (monthly[(y, m)], monthly[(y - 1, m)])
        for (y, m) in monthly
        if (y - 1, m) in monthly
    }
    assert {(r["yr"], r["mth"]) for r in rows} == set(expect)
    for r in rows:
        cur, prev = expect[(r["yr"], r["mth"])]
        assert abs(r["rev"] - cur) < 1e-2
        assert abs(r["rev_prev"] - prev) < 1e-2
        assert abs(r["yoy_growth"] - (cur - prev) / prev) < 1e-5


def test_session_paths_matches_python(spark):
    rows = Q._QUERIES["q266_session_paths"](spark, SF).collect()
    evs = sorted(
        duck_table(SF, "events"),
        key=lambda e: (e["user_id"], e["ts"], e["event_id"]),
    )
    paths = Counter()
    cur_user, last_ts, cur_path = None, None, None
    flush = lambda: paths.update([">".join(cur_path[:3])]) if cur_path else None
    for e in evs:
        new_session = (
            e["user_id"] != cur_user
            or (e["ts"] - last_ts).total_seconds() > 1800
        )
        if new_session:
            flush()
            cur_user, cur_path = e["user_id"], []
        cur_path.append(e["event_type"])
        last_ts = e["ts"]
    flush()
    expect = {p: n for p, n in paths.items() if n >= 5}
    assert {r["path"]: r["n_sessions"] for r in rows} == expect
