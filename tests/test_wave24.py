"""Wave-24 tests: Simpson audit, time-to-convert, quantile
normalization, shard manifest — independent recomputation per query."""

from collections import Counter, defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _slope(pts):
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    return (n * sxy - sx * sy) / (n * sxx - sx * sx)


def test_simpson_audit_matches_python(spark):
    row = Q._QUERIES["q276_simpson_audit"](spark, SF).collect()[0]
    data = duck_rows(
        f"SELECT l_partkey % 10, l_quantity, l_extendedprice FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    )
    by_grp = defaultdict(list)
    allpts = []
    for g, x, y in data:
        by_grp[g].append((x, y))
        allpts.append((x, y))
    slopes = [_slope(p) for p in by_grp.values()]
    g = _slope(allpts)
    assert row["n_groups"] == len(by_grp)
    assert abs(row["global_slope"] - g) < 1e-3
    assert abs(row["min_group_slope"] - min(slopes)) < 1e-3
    assert abs(row["max_group_slope"] - max(slopes)) < 1e-3
    expect_flag = int(
        (g > 0 and max(slopes) < 0) or (g < 0 and min(slopes) > 0)
    )
    assert row["simpson_flag"] == expect_flag


def test_simpson_flag_fires_on_constructed_paradox():
    # two groups each trending down, pooled trending up
    g1 = [(1, 10), (2, 9), (3, 8)]
    g2 = [(11, 30), (12, 29), (13, 28)]
    slopes = [_slope(g1), _slope(g2)]
    g = _slope(g1 + g2)
    assert max(slopes) < 0 < g  # the paradox the flag encodes


def test_time_to_convert_matches_python(spark):
    row = Q._QUERIES["q277_time_to_convert"](spark, SF).collect()[0]
    evs = duck_rows(
        f"SELECT user_id, ts, event_type FROM read_parquet('{SF}/events.parquet')"
    )
    v0 = {}
    for uid, ts, et in evs:
        if et == "view" and (uid not in v0 or ts < v0[uid]):
            v0[uid] = ts
    deltas = {}
    for uid, ts, et in evs:
        if et == "purchase" and uid in v0 and ts > v0[uid]:
            d = (ts - v0[uid]).total_seconds()
            if uid not in deltas or d < deltas[uid]:
                deltas[uid] = d

    def qtile(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        f, c = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[f] + (xs[c] - xs[f]) * (k - f)

    assert row["n_viewers"] == len(v0)
    assert row["n_converted"] == len(deltas)
    assert abs(row["conversion_rate"] - len(deltas) / len(v0)) < 1e-5
    assert abs(row["median_sec"] - qtile(list(deltas.values()), 0.5)) < 1e-3
    assert abs(row["p90_sec"] - qtile(list(deltas.values()), 0.9)) < 1e-3


def test_quantile_normalization_properties(spark):
    rows = Q._QUERIES["q278_quantile_normalization"](spark, SF).collect()
    docs = duck_rows(
        f"SELECT doc_id, source, n_chars FROM read_parquet('{SF}/documents.parquet')"
    )
    pooled = sorted(v for _, _, v in docs)
    n_total = len(pooled)
    per_source = defaultdict(list)
    for did, src, v in docs:
        per_source[src].append((v, did))
    # independent recompute: midrank-quantile type-1 mapping
    expect = {}
    for src, vals in per_source.items():
        n = len(vals)
        cnt = Counter(v for v, _ in vals)
        below = {}
        run = 0
        for v in sorted(cnt):
            below[v] = run
            run += cnt[v]
        for v, did in vals:
            r2 = 2 * (below[v] + 1) + cnt[v] - 1  # doubled midrank
            idx = -(-(r2 * n_total) // (2 * n))  # ceil division
            expect[did] = pooled[idx - 1]
    got = {r["doc_id"]: r["qnorm_chars"] for r in rows}
    assert got == expect
    # distribution equalization: every source maps onto pooled values
    by_src_out = defaultdict(list)
    for r in rows:
        by_src_out[r["source"]].append(r["qnorm_chars"])
    for vs in by_src_out.values():
        assert set(vs) <= set(pooled)


def test_shard_manifest_matches_python(spark):
    rows = Q._QUERIES["q279_shard_manifest"](spark, SF).collect()
    docs = duck_rows(
        f"SELECT doc_id, n_chars FROM read_parquet('{SF}/documents.parquet')"
    )
    agg = defaultdict(lambda: [0, 0, 0])
    for did, nc in docs:
        a = agg[did % 16]
        a[0] += 1
        a[1] += nc
        a[2] += (did * 1000003 + nc) % 1000000007
    assert {r["shard"] for r in rows} == set(agg)
    for r in rows:
        n, tc, ck = agg[r["shard"]]
        assert (r["n_docs"], r["total_chars"], r["checksum"]) == (n, tc, ck)


def test_shard_manifest_detects_single_row_change(spark):
    # the manifest's purpose: one changed row flips exactly one checksum
    docs = duck_rows(
        f"SELECT doc_id, n_chars FROM read_parquet('{SF}/documents.parquet')"
    )
    base = defaultdict(int)
    for did, nc in docs:
        base[did % 16] += (did * 1000003 + nc) % 1000000007
    did0, nc0 = docs[0]
    mutated = defaultdict(int, base)
    mutated[did0 % 16] += ((did0 * 1000003 + nc0 + 1) % 1000000007) - (
        (did0 * 1000003 + nc0) % 1000000007
    )
    diff = [s for s in base if base[s] != mutated[s]]
    assert diff == [did0 % 16]
