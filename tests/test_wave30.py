"""Wave-30 tests: corrupt-record ingestion, wide-table build."""

from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def test_corrupt_ingest_quarantines_exactly_three(spark):
    rows = Q._QUERIES["q294_corrupt_csv_ingest"](spark, SF).collect()
    exp = duck_rows(
        f"""SELECT o_orderstatus, COUNT(*), SUM(o_totalprice)
            FROM read_parquet('{SF}/orders.parquet')
            WHERE o_totalprice > 150000 GROUP BY 1"""
    )
    expect = {s: (n, t) for s, n, t in exp}
    assert {r["o_orderstatus"] for r in rows} == set(expect)
    for r in rows:
        n, t = expect[r["o_orderstatus"]]
        assert r["n_good"] == n  # no good row lost to the bad lines
        assert abs(r["sum_price"] - t) < 1e-2
        assert r["n_corrupt_total"] == 3  # every bad line quarantined


def test_corrupt_ingest_permissive_semantics(spark):
    # the quarantine column captures the raw malformed line; good rows
    # keep it null (PERMISSIVE contract this query relies on)
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="permissive_") + "/t"
    os.makedirs(d)
    with open(os.path.join(d, "a.csv"), "w") as f:
        f.write("1,ok,2.5\nBAD,x,not_num\n2,fine,3.5\n")
    df = (
        spark.read.schema("id long, s string, v double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(d)
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["_bad"] is None and rows[2]["_bad"] is None
    bad = [r for r in df.collect() if r["_bad"] is not None]
    assert len(bad) == 1 and "not_num" in bad[0]["_bad"]


def test_wide_table_matches_python(spark):
    rows = Q._QUERIES["q295_wide_table_build"](spark, SF).collect()
    data = duck_rows(
        f"""SELECT r_name, n_name, c_mktsegment, o.o_orderkey
            FROM read_parquet('{SF}/orders.parquet') o
            JOIN read_parquet('{SF}/customer.parquet') c ON o_custkey = c_custkey
            JOIN read_parquet('{SF}/nation.parquet') n ON c_nationkey = n_nationkey
            JOIN read_parquet('{SF}/region.parquet') r ON n_regionkey = r_regionkey"""
    )
    li = duck_rows(
        f"SELECT l_orderkey, l_extendedprice, l_discount FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    per_order = defaultdict(lambda: [0, 0.0])
    for ok, p, disc in li:
        per_order[ok][0] += 1
        per_order[ok][1] += p * (1 - disc)
    cells = defaultdict(lambda: [0, 0, 0.0])
    for rn, nn, seg, ok in data:
        if ok not in per_order:
            continue
        c = cells[(rn, nn, seg)]
        c[0] += 1
        c[1] += per_order[ok][0]
        c[2] += per_order[ok][1]
    got = {(r["region"], r["nation"], r["segment"]): r for r in rows}
    assert set(got) == set(cells)
    for k, (n, nl, net) in cells.items():
        r = got[k]
        assert r["n_orders"] == n
        assert r["n_lines"] == nl
        assert abs(r["net_revenue"] - net) < 1e-1
