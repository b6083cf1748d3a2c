"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``isen_projet_bigdata_a3s6_spark`` — this module is
the thin contract surface.
"""

from __future__ import annotations

import contextlib
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from isen_projet_bigdata_a3s6_spark import queries as _registry  # noqa: E402
from isen_projet_bigdata_a3s6_spark.session import apply_session_contract  # noqa: E402

_PKG_SHIPPED: set[str] = set()


def _remove_file(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _ensure_pkg_on_workers(spark: SparkSession) -> None:
    """Once per application: apply the engine's session contract
    (``session.SESSION_CONTRACT``: UTC, no TIMESTAMP_NTZ inference, nanos
    parquet as long) to the host's session, and ship the package to the
    Python workers. Workers spawn with the driver JVM's original sys.path —
    when the driver runs outside the repo dir, pandas-UDF closures
    referencing this package fail to unpickle. Shipping the package as a zip
    via addPyFile fixes every UDF path (geo, multimodal) in any session.
    Each application gets its own zip: in local mode executors read it at
    task time, so a shared path would let two programs running at once ship
    each other's code or a half-written zip. The zip is removed at exit."""
    key = spark.sparkContext.applicationId
    if key in _PKG_SHIPPED:
        return
    apply_session_contract(spark)
    import atexit
    import tempfile
    import zipfile

    fd, zpath = tempfile.mkstemp(prefix="isen_a3s6_pkg-", suffix=".zip")
    atexit.register(_remove_file, zpath)
    pkg_dir = os.path.join(_REPO_DIR, "isen_projet_bigdata_a3s6_spark")
    with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, _REPO_DIR))
    spark.sparkContext.addPyFile(zpath)
    _PKG_SHIPPED.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H-Q1-shaped grouped
    aggregation (SURVEY §2.5 A3/A4/A11 — the reference's most representative
    query shape, R_groupe4.R:231-272)."""
    _ensure_pkg_on_workers(spark)
    return _registry.q01_grouped_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_pkg_on_workers(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin per query (same column names)."""
    return _registry.oracle_sql()
