"""Wave-32 tests: energy distance, greedy set-cover selection."""

from collections import Counter

from conftest import duck_rows
from isen_projet_bigdata_a3s6_spark import queries as Q

SF = "/root/testdata/sf0.001"


def _energy(xs, ys):
    def e_ab(a, b):
        ca, cb = Counter(a), Counter(b)
        s = sum(
            na * nb * abs(u - v) for u, na in ca.items() for v, nb in cb.items()
        )
        return s / (len(a) * len(b))

    return 2 * e_ab(xs, ys) - e_ab(xs, xs) - e_ab(ys, ys)


def test_energy_distance_matches_python(spark):
    row = Q._QUERIES["q298_energy_distance"](spark, SF).collect()[0]
    data = duck_rows(
        f"SELECT l_returnflag, l_quantity FROM "
        f"read_parquet('{SF}/lineitem.parquet') WHERE l_returnflag IN ('R','N')"
    )
    xs = [q for f, q in data if f == "R"]
    ys = [q for f, q in data if f == "N"]
    assert row["n_x"] == len(xs) and row["n_y"] == len(ys)
    assert abs(row["energy_distance"] - _energy(xs, ys)) < 2e-6
    assert row["energy_distance"] >= -1e-9  # nonnegative by theory


def test_energy_distance_zero_iff_identical():
    xs = [1, 2, 3, 4, 5] * 3
    assert abs(_energy(xs, list(xs))) < 1e-12
    assert _energy(xs, [x + 10 for x in xs]) > 1.0  # shifted -> large


def test_setcover_matches_python_greedy(spark):
    rows = sorted(
        Q._QUERIES["q299_setcover_selection"](spark, SF).collect(),
        key=lambda r: r["pick_order"],
    )
    docs = duck_rows(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    )
    sets = {}
    for did, tx in docs:
        ws = tx.lower().split(" ")
        sets[did] = {
            f"{a} {b}" for a, b in zip(ws[:-1], ws[1:]) if a and b
        }
    covered = set()
    expect = []
    for rnd in range(10):
        best = max(
            sets,
            key=lambda d: (len(sets[d] - covered), -d),
        )
        gain = len(sets[best] - covered)
        if gain == 0:
            break
        covered |= sets[best]
        expect.append((rnd + 1, best, gain, len(covered)))
    got = [
        (r["pick_order"], r["doc_id"], r["new_tokens"], r["covered_vocab"])
        for r in rows
    ]
    assert got == expect


def test_setcover_gains_monotone_nonincreasing(spark):
    rows = sorted(
        Q._QUERIES["q299_setcover_selection"](spark, SF).collect(),
        key=lambda r: r["pick_order"],
    )
    gains = [r["new_tokens"] for r in rows]
    # submodularity: greedy marginal gains never increase
    for a, b in zip(gains, gains[1:]):
        assert b <= a
