"""The primary correctness gate, locally: every registered query vs its
DuckDB oracle at sf0.001 (the same comparison also runs at sf0.01),
and every registered query emits scalar columns only."""

import pytest

from isen_projet_bigdata_a3s6_spark import queries as registry
from isen_projet_bigdata_a3s6_spark.oracle_check import check_query

ALL = sorted(registry.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, sf_dir, name):
    res = check_query(spark, name, sf_dir)
    assert res.ok, str(res)


def test_check_query_rejects_non_scalar_columns(spark, sf_dir, monkeypatch):
    """Every query above must also emit scalar columns only: check_query
    fails a frame with an array column before comparing values."""
    monkeypatch.setattr(
        registry, "queries",
        lambda: {"q_nested": lambda s, _d: s.createDataFrame([([1],)], "a array<int>")},
    )
    res = check_query(spark, "q_nested", sf_dir)
    assert not res.ok and "non-scalar columns ['a']" in str(res)


def test_every_query_has_unique_name():
    assert len(ALL) == len(set(ALL))


def test_oracle_keys_subset():
    assert set(registry.oracle_sql()) <= set(registry.queries())
