"""The primary correctness gate, locally: every registered query vs its
DuckDB oracle at sf0.001 (the same comparison also runs at sf0.01),
and every registered query emits scalar columns only."""

import ast
from pathlib import Path

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


def _registrations():
    """(name, has_oracle) for each ``@register(...)`` in queries.py, in
    source order: the order the decorators run at import."""
    tree = ast.parse(Path(registry.__file__).read_text())
    out = []
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef):
            continue
        for dec in node.decorator_list:
            if isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register":
                has_oracle = len(dec.args) > 1 or any(
                    k.arg == "oracle" for k in dec.keywords
                )
                out.append((dec.args[0].value, has_oracle))
    return out


def test_registry_order_is_registration_order():
    regs = _registrations()
    assert list(registry.queries()) == [n for n, _ in regs]
    assert list(registry.oracle_sql()) == [n for n, has in regs if has]


def test_register_rejects_duplicate_name():
    name = ALL[0]
    fn = registry.queries()[name]
    with pytest.raises(ValueError, match="already registered"):
        registry.register(name)(lambda s, d: None)
    assert registry.queries()[name] is fn


def test_oracle_keys_subset():
    assert set(registry.oracle_sql()) <= set(registry.queries())
