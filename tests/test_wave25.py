"""Wave-25 tests: grid-DBSCAN, retrieval metrics, fairness audit —
independent recomputation per query."""

import math
from collections import defaultdict

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _python_grid_dbscan(points, h=0.08, min_pts=4):
    """Identical grid algorithm: dense cells, 8-adjacency union-find."""
    cells = defaultdict(list)
    for vid, x, y in points:
        cx, cy = math.floor(x / h), math.floor(y / h)
        cells[(cx + 1000) * 100000 + (cy + 1000)].append(vid)
    dense = {c for c, vs in cells.items() if len(vs) >= min_pts}
    parent = {c: c for c in dense}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for c in dense:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                nb = c + dx * 100000 + dy
                if nb in dense:
                    ra, rb = find(c), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for c, vs in cells.items():
        lbl = find(c) if c in dense else -1
        for v in vs:
            out[v] = lbl
    return out


def test_grid_dbscan_matches_python(spark):
    rows = Q._QUERIES["q280_grid_dbscan"](spark, SF).collect()
    pts = duck_rows(
        f"SELECT vec_id, embedding[1], embedding[2] FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    expect = _python_grid_dbscan(pts)
    got = {r["vec_id"]: r["cluster"] for r in rows}
    assert got == expect
    for r in rows:
        assert r["is_noise"] == (r["cluster"] == -1)


def test_grid_dbscan_has_structure(spark):
    rows = Q._QUERIES["q280_grid_dbscan"](spark, SF).collect()
    clusters = {r["cluster"] for r in rows if r["cluster"] != -1}
    # the fixture is dense enough for at least one real cluster, and the
    # grid is fine enough that some points are noise
    assert len(clusters) >= 1
    assert any(r["cluster"] == -1 for r in rows)


def test_retrieval_metrics_matches_python(spark):
    rows = Q._QUERIES["q281_retrieval_metrics"](spark, SF).collect()
    embs = duck_rows(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    data = {vid: (list(v), lab) for vid, v, lab in embs}
    disc = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    got = {r["query_id"]: r for r in rows}
    qids = [vid for vid in data if vid < 10]
    assert set(got) == set(qids)
    for qid in qids:
        qv, qlab = data[qid]
        qn = math.sqrt(sum(x * x for x in qv))
        scored = []
        for vid, (v, lab) in data.items():
            if vid == qid:
                continue
            dot = sum(a * b for a, b in zip(qv, v))
            nb = math.sqrt(sum(x * x for x in v))
            scored.append((round(dot / (qn * nb), 6), vid, lab))
        scored.sort(key=lambda t: (-t[0], t[1]))
        top = scored[:10]
        dcg = sum(d for (s, vid, lab), d in zip(top, disc) if lab == qlab)
        n_rel = sum(1 for vid, (v, lab) in data.items() if lab == qlab and vid != qid)
        idcg = sum(disc[: min(n_rel, 10)])
        mrr = 0.0
        for i, (s, vid, lab) in enumerate(top):
            if lab == qlab:
                mrr = 1.0 / (i + 1)
                break
        r = got[qid]
        assert r["n_relevant"] == n_rel
        assert abs(r["ndcg10"] - dcg / idcg) < 2e-6
        assert abs(r["mrr10"] - mrr) < 2e-6
        assert 0.0 <= r["ndcg10"] <= 1.0


def test_fairness_audit_matches_python(spark):
    rows = Q._QUERIES["q282_fairness_audit"](spark, SF).collect()
    data = duck_rows(
        f"""SELECT c_mktsegment, o_totalprice, o_orderstatus
            FROM read_parquet('{SF}/orders.parquet') o
            JOIN read_parquet('{SF}/customer.parquet') c
              ON o.o_custkey = c.c_custkey"""
    )
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, tp, fp, pos
    for seg, price, status in data:
        pred = 1 if price > 250000 else 0
        y = 1 if status == "F" else 0
        a = agg[seg]
        a[0] += 1
        a[1] += pred * y
        a[2] += pred * (1 - y)
        a[3] += y
    rates = {
        seg: (
            tp / pos,
            fp / (n - pos),
            (tp + fp) / n,
        )
        for seg, (n, tp, fp, pos) in agg.items()
    }
    tprs = [t for t, _, _ in rates.values()]
    fprs = [f for _, f, _ in rates.values()]
    prs = [p for _, _, p in rates.values()]
    assert {r["segment"] for r in rows} == set(agg)
    for r in rows:
        t, f, p = rates[r["segment"]]
        assert abs(r["tpr"] - t) < 2e-6
        assert abs(r["fpr"] - f) < 2e-6
        assert abs(r["pred_rate"] - p) < 2e-6
        assert abs(r["tpr_gap"] - (max(tprs) - min(tprs))) < 2e-6
        assert abs(r["fpr_gap"] - (max(fprs) - min(fprs))) < 2e-6
        assert abs(r["demo_parity_gap"] - (max(prs) - min(prs))) < 2e-6
