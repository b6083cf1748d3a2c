"""The primary correctness gate, locally: every registered query vs its
DuckDB oracle at sf0.001 (the same comparison also runs at sf0.01),
every registered query emits scalar columns only, and the package holds
no code that nothing outside the tests reaches."""

import ast
import io
import re
import subprocess
import sys
import tokenize
from collections import Counter
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


def _is_registered(node):
    return any(
        isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"
        for dec in node.decorator_list
    )


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


def test_registry_import_leaves_duckdb_out():
    """DuckDB is the oracle's engine, not the engine's: importing the
    registry (and the driver contract over it) in a fresh interpreter
    does not load it."""
    code = (
        f"import sys; sys.path.insert(0, {str(Path(__file__).parents[1])!r}); "
        "import __spark_entry__; print(sorted(m for m in sys.modules if m.split('.')[0] == 'duckdb'))"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_oracle_keys_subset():
    assert set(registry.oracle_sql()) <= set(registry.queries())


_PKG = Path(registry.__file__).parent
_REPO = _PKG.parent
# Reached only by tests, each kept pending its own decision: the p-value
# library (chi2_sf, f_sf, t_sf) and the plan helpers.
_REACH_EXEMPT = ("plans/", "stats/distributions.py")
_WORD = re.compile(r"[A-Za-z_]\w*")


def _words(src):
    """(line, identifier) for every name in ``src``: code tokens plus the
    words of its strings, docstrings and comments."""
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            out.append((tok.start[0], tok.string))
        elif tok.type in (tokenize.STRING, tokenize.COMMENT):
            out += [(tok.start[0], w) for w in _WORD.findall(tok.string)]
    return out


def test_every_package_object_is_reached():
    """Every module-level function and class of the package is named
    outside its own definition (own docstring included) in package code,
    ``__spark_entry__.py``, ``tools/`` or ``.claude/skills/``. Registered
    queries are reached through the registry. Tests do not count: code
    that only a test calls is a second mechanism nobody runs."""
    seen = Counter()
    defs = []
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        words = _words(src)
        seen.update(w for _, w in words)
        rel = path.relative_to(_PKG).as_posix()
        if rel.startswith(_REACH_EXEMPT):
            continue
        for node in ast.parse(src).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _is_registered(node):
                continue
            own = sum(
                1 for line, w in words
                if w == node.name and node.lineno <= line <= node.end_lineno
            )
            defs.append((f"{rel}::{node.name}", node.name, own))
    for path in [_REPO / "__spark_entry__.py", *sorted((_REPO / "tools").rglob("*.py"))]:
        seen.update(w for _, w in _words(path.read_text()))
    for path in sorted((_REPO / ".claude" / "skills").rglob("*")):
        if path.is_file():
            seen.update(_WORD.findall(path.read_text()))
    unreached = [qual for qual, name, own in defs if seen[name] <= own]
    assert not unreached, f"reached by nothing outside tests: {unreached}"
