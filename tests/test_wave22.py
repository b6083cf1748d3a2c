"""Wave-22 tests: HITS, XML roundtrip escaping, ridge closed form,
isotonic PAVA, file provenance — independent recomputation per query."""

import math
from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _numpy_hits(edges, iterations=8):
    import numpy as np

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(iterations):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    return nodes, h, a


def test_hits_matches_numpy(spark):
    rows = Q._QUERIES["q267_hits"](spark, SF).collect()
    edges = duck_rows(
        f"""SELECT DISTINCT 'c' || o_custkey, 'p' || l_partkey
            FROM read_parquet('{SF}/lineitem.parquet') l
            JOIN read_parquet('{SF}/orders.parquet') o
              ON l.l_orderkey = o.o_orderkey"""
    )
    nodes, h, a = _numpy_hits(edges)
    auth = {n: v for n, v in zip(nodes, a) if n.startswith("p")}
    expect = sorted(auth.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [(r["node"], r["authority"]) for r in rows]
    assert [n for n, _ in got] == [n for n, _ in expect]
    for (_, gv), (_, ev) in zip(got, expect):
        assert abs(gv - ev) < 1e-4


def test_hits_rejects_bad_iterations(spark):
    import pytest

    from isen_projet_bigdata_a3s6_spark.operators.graph import hits

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        hits(edges, iterations=0)


def test_xml_roundtrip_escaping(spark):
    # entity-escaping survival: &, <, >, quotes, unicode
    src = spark.createDataFrame(
        [
            (1, 'a & b < c > d "quoted" it’s'),
            (2, "plain"),
            (3, "<tag>nested & 'entities'</tag>"),
        ],
        "id long, text string",
    )
    import tempfile

    out = tempfile.mkdtemp(prefix="xmltest_") + "/x"
    src.write.format("xml").option("rowTag", "row").mode("overwrite").save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("id long, text string")
        .load(out)
    )
    got = {r["id"]: r["text"] for r in back.collect()}
    want = {r["id"]: r["text"] for r in src.collect()}
    assert got == want


def test_ridge_matches_numpy(spark):
    import numpy as np

    row = Q._QUERIES["q269_ridge_regression"](spark, SF).collect()[0]
    data = duck_rows(
        f"SELECT l_quantity, l_discount, l_extendedprice FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    X = np.array([[q, d] for q, d, _ in data])
    y = np.array([p for _, _, p in data])
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    beta = np.linalg.solve(Xc.T @ Xc + 10.0 * np.eye(2), Xc.T @ yc)
    icept = y.mean() - beta @ X.mean(axis=0)
    assert row["n"] == len(y)
    assert abs(row["beta_quantity"] - beta[0]) < 1e-3
    assert abs(row["beta_discount"] - beta[1]) < 1e-1  # |beta2| ~ 1e4: relative
    assert abs(row["beta_discount"] - beta[1]) / max(1.0, abs(beta[1])) < 1e-6
    assert abs(row["intercept"] - icept) < 1e-2


def _reference_pava(ws, ms):
    """O(n^2) max-min characterization: iso[i] = max_{j<=i} min_{k>=j}
    weighted_mean(j..k)."""
    n = len(ws)
    out = []
    for i in range(n):
        best = -math.inf
        for j in range(i + 1):
            cur = math.inf
            wsum = msum = 0.0
            for k in range(j, n):
                wsum += ws[k]
                msum += ws[k] * ms[k]
                if k >= i:
                    cur = min(cur, msum / wsum)
            best = max(best, cur)
        out.append(best)
    return out


def test_isotonic_matches_reference_pava(spark):
    rows = sorted(
        Q._QUERIES["q270_isotonic_calibration"](spark, SF).collect(),
        key=lambda r: r["score"],
    )
    ws = [r["n"] for r in rows]
    ms = [r["raw_rate"] for r in rows]
    ref = _reference_pava(ws, ms)
    for r, e in zip(rows, ref):
        assert abs(r["iso_rate"] - e) < 1e-4
    # monotone nondecreasing
    for a, b in zip(rows, rows[1:]):
        assert b["iso_rate"] >= a["iso_rate"] - 1e-9
    # weighted mean preserved
    tot_raw = sum(w * m for w, m in zip(ws, ms))
    tot_iso = sum(r["n"] * r["iso_rate"] for r in rows)
    assert abs(tot_raw - tot_iso) < 1e-3 * sum(ws)


def test_file_provenance_matches_duckdb(spark):
    rows = Q._QUERIES["q271_file_provenance"](spark, SF).collect()
    exp = duck_rows(
        f"""SELECT regexp_extract(filename, '([^/]+)$', 1) AS f,
                   COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
                   COUNT(DISTINCT l_partkey)
            FROM read_parquet('{SF}/lineitem.parquet', filename=true)
            GROUP BY f"""
    )
    expect = {r[0]: r[1:] for r in exp}
    assert {r["file_name"] for r in rows} == set(expect)
    for r in rows:
        n, mn, mx, np_ = expect[r["file_name"]]
        assert (r["n_rows"], r["min_orderkey"], r["max_orderkey"], r["n_parts"]) == (
            n,
            mn,
            mx,
            np_,
        )
