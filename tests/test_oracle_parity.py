"""The primary correctness gate, locally: every registered query vs its
DuckDB oracle at sf0.001 (the same comparison also runs at sf0.01),
every registered query emits scalar columns only, and the package holds
no code that nothing outside the tests reaches."""

import ast
import re
import subprocess
import sys
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
    does not load it. No registered query builds through Spark ML either,
    so the import loads no ``pyspark.ml`` module."""
    code = (
        f"import sys; sys.path.insert(0, {str(Path(__file__).parents[1])!r}); "
        "import __spark_entry__; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'duckdb'"
        " or m == 'pyspark.ml' or m.startswith('pyspark.ml.')))"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_oracle_keys_subset():
    assert set(registry.oracle_sql()) <= set(registry.queries())


_PKG = Path(registry.__file__).parent
_REPO = _PKG.parent
# Reached only by tests, each kept for its own reason. A key is a module
# (every object in it) or one ``module::object``.
_REACH_EXEMPT = {
    "functions/bpe.py::java_ws_tokens":
        "pure-Python mirror of text.tokens() that tests pin Spark's split against",
    "functions/wordpiece.py::encode_word":
        "reference encoder that tests pin the WordPiece UDF's by-value copy against",
    "ml/kmeans.py::_sqdist_to_literal":
        "reference distance the k-means inertia test checks the inlined fold against",
    "ml/pipeline.py::fit_multiple_ols":
        "Spark ML twin of q43's closed-form OLS",
    "ml/pipeline.py::fit_logistic":
        "Spark ML twin of q44's fixed-round IRLS",
    "plans/trees_pipeline.py":
        "the reference R script's Part 1 (trees cleaning) composition",
    "plans/report_queries.py":
        "the reference R script's Parts 2-5 (report) composition",
}
_WORD = re.compile(r"[A-Za-z_]\w*")


def _code_names(tree):
    """(line, name) for every name the code of a parsed module reads:
    ``Name`` and ``Attribute`` loads, f-string fields and decorators
    included. Assignment targets, imports, ``__all__`` entries, docstrings,
    comments and other strings are not uses."""
    return [
        (n.lineno, n.id if isinstance(n, ast.Name) else n.attr)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Name, ast.Attribute)) and isinstance(n.ctx, ast.Load)
    ]


def _unreached(modules, others, words):
    """``module::object`` for each module-level function and class of
    ``modules`` (relative path -> source) that no code in ``modules`` or
    ``others`` (sources) uses outside the object's own body and that
    ``words`` (prose such as skill recipes) does not name. Registered
    queries are reached through the registry."""
    seen = Counter(words)
    defs = []
    for rel, src in modules.items():
        tree = ast.parse(src)
        names = _code_names(tree)
        seen.update(name for _, name in names)
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _is_registered(node):
                continue
            own = sum(
                1 for line, name in names
                if name == node.name and node.lineno <= line <= node.end_lineno
            )
            defs.append((f"{rel}::{node.name}", node.name, own))
    for src in others:
        seen.update(name for _, name in _code_names(ast.parse(src)))
    return [qual for qual, name, own in defs if seen[name] <= own]


def _exempt(qual):
    return next((key for key in _REACH_EXEMPT if qual == key or qual.startswith(key + "::")), None)


def test_every_package_object_is_reached():
    """Every module-level function and class of the package is used in
    code outside its own body: in package code, ``__spark_entry__.py`` or
    ``tools/``, or named by a ``.claude/skills/`` recipe. Tests do not
    count: code that only a test calls is a second mechanism nobody runs.
    Each exemption must still cover something the scan flags."""
    modules = {p.relative_to(_PKG).as_posix(): p.read_text() for p in sorted(_PKG.rglob("*.py"))}
    others = [
        p.read_text()
        for p in [_REPO / "__spark_entry__.py", *sorted((_REPO / "tools").rglob("*.py"))]
    ]
    words = [
        w
        for p in sorted((_REPO / ".claude" / "skills").rglob("*"))
        if p.is_file()
        for w in _WORD.findall(p.read_text())
    ]
    flagged = _unreached(modules, others, words)
    unreached = [qual for qual in flagged if not _exempt(qual)]
    assert not unreached, f"reached by nothing outside tests: {unreached}"
    stale = set(_REACH_EXEMPT) - {_exempt(qual) for qual in flagged}
    assert not stale, f"exempt but reached: {sorted(stale)}"


_SYNTHETIC = {
    "__init__.py": 'from .m import by_all, by_import\n__all__ = ["by_all"]\n',
    "m.py": '''"""Prose names by_docstring."""


def by_decorator(fn):
    return fn


def by_fstring():
    return 1


def by_attribute():
    return 2


def by_docstring():
    return by_docstring()


def by_comment():
    return 3


def by_string():
    return 4


def by_import():
    return 5


def by_all():
    return 6


def by_assignment():
    return 7


@by_decorator
def top():
    """Calls by_docstring in prose only."""
    # by_comment()
    text = "by_string()"
    by_assignment = text
    return f"{by_fstring()}" + str(mod.by_attribute()) + text
''',
}


def test_reach_scan_counts_code_not_words():
    """The guard's scanner on a synthetic package: f-string fields,
    attribute calls and decorators are uses; docstrings, comments, strings,
    imports, ``__all__``, assignment targets and a call from the object's
    own body are not."""
    assert _unreached(_SYNTHETIC, [], []) == [
        "m.py::by_docstring",
        "m.py::by_comment",
        "m.py::by_string",
        "m.py::by_import",
        "m.py::by_all",
        "m.py::by_assignment",
        "m.py::top",
    ]
    assert _unreached(_SYNTHETIC, ["top()"], ["by_string"]) == [
        "m.py::by_docstring",
        "m.py::by_comment",
        "m.py::by_import",
        "m.py::by_all",
        "m.py::by_assignment",
    ]
