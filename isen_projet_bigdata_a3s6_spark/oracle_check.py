"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered query on Spark and its SQL twin on DuckDB over the same
parquet tables, then compares row count, column names, and (column-name-
sorted, row-order-insensitive) values — a strictly-stronger local predictor
of the driver's value-hash check.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .sources.readers import DRIVER_FIXTURE_ROOT, TABLES


@dataclass
class CompareResult:
    name: str
    ok: bool
    row_count_spark: int
    row_count_oracle: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.row_count_spark} oracle={self.row_count_oracle}"
        for m in self.mismatches[:5]:
            msg += f"\n    - {m}"
        return msg


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
        elif out[c].dtype == object:
            out[c] = out[c].astype(str).where(out[c].notna(), None)

    # Sort float columns by their string form: -0.0 == 0.0 under numeric
    # comparison, so a frame holding BOTH a -0.0 row and a 0.0 row
    # (otherwise identical) could order them differently on each side and
    # the positional zip below would pair -0.0 against 0.0 — a spurious
    # gate failure the driver's sorted-string hash would NOT show (r10
    # ADVICE). Stringifying makes the key sign-aware; the ordering is no
    # longer numeric, but both frames sort under the SAME rule, so equal
    # multisets still pair row-for-row.
    def _sort_key(col: pd.Series) -> pd.Series:
        if col.dtype.kind == "f":
            # repr(float(v)), not repr(v): numpy>=2 scalar repr would yield
            # 'np.float64(...)' wrappers, and builtin-float repr pins the
            # NaN/inf spellings ('nan'/'inf') independent of numpy version.
            return col.map(lambda v: repr(float(v)))
        return col

    return out.sort_values(
        by=list(out.columns), kind="mergesort", key=_sort_key
    ).reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        # Distinguish ±0.0: the driver's value hash STRINGIFIES cells, so
        # Spark 0.0 vs DuckDB -0.0 hash-differ even though -0.0 == 0.0 is
        # True — the r09 q43 red row hid behind this very comparison. Any
        # ROUND of a tiny negative can produce -0.0 on DuckDB (no signed
        # zero survives Spark's BigDecimal HALF_UP round, but arithmetic
        # like neg*0.0 can still emit it engine-side).
        if af == bf:
            return af != 0.0 or math.copysign(1.0, af) == math.copysign(1.0, bf)
        return False
    return str(a) == str(b)


# pandas dtype kind → coarse class for the parity check below. The driver's
# value hash stringifies cells, so a BIGINT 32 vs a HUGEINT-derived 32.0
# hash-differ even though they compare numerically equal here (the r02/r03
# q86/q139 failure mode). Same for DATE vs TIMESTAMP.
#
# Deliberate strictness: a bare Spark DATE column arrives as object
# (datetime.date) while DuckDB DATE arrives as datetime64, so the gate
# flags it even though the calendar values match. That is by design — the
# driver distinguished date/timestamp typing in the q139 red row, so the
# repo convention is to CAST date outputs to TIMESTAMP on BOTH engines
# rather than rely on the driver's canonicalizer agreeing.
_KIND_CLASS = {
    "i": "int",
    "u": "int",
    "f": "float",
    "b": "bool",
    "M": "datetime",
    "m": "timedelta",
}


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    res = CompareResult(name, True, len(spark_pdf), len(oracle_pdf))
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        res.ok = False
        res.mismatches.append(f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}")
        return res
    for c in s.columns:
        sk = _KIND_CLASS.get(s[c].dtype.kind, "obj")
        ok_ = _KIND_CLASS.get(o[c].dtype.kind, "obj")
        if sk != ok_ and {sk, ok_} & {"int", "float", "datetime"}:
            res.ok = False
            res.mismatches.append(
                f"col {c}: dtype class differs (spark={s[c].dtype}/{sk} "
                f"oracle={o[c].dtype}/{ok_}) — driver value hash would mismatch"
            )
    if not res.ok:
        return res
    if len(s) != len(o):
        res.ok = False
        res.mismatches.append("row count differs")
        return res
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(sv, ov))
            if not _values_equal(None if pd.isna(x) else x, None if (y is None or (not isinstance(y, (list, tuple)) and pd.isna(y))) else y)
        ]
        if bad:
            res.ok = False
            i, x, y = bad[0]
            res.mismatches.append(f"col {c}: {len(bad)} diffs, first at row {i}: spark={x!r} oracle={y!r}")
    return res


def retarget_oracle_sql(sql: str, sf_dir: str) -> str:
    """Point an oracle at a different fixture directory.

    Provenance oracles (q271) reference the parquet FILES directly via
    ``read_parquet(..., filename=true)`` — views can't carry the filename
    virtual column. The registered string hardcodes the driver's sf0.01
    path (the driver runs oracle SQL verbatim, always at sf0.01); every
    LOCAL harness (check_query, the degenerate/empty/skew sweeps) must
    retarget it to the fixture it is actually checking, or the oracle
    reads the real sf0.01 data while Spark reads the fixture — the r08
    skew-sweep drift."""
    return sql.replace(DRIVER_FIXTURE_ROOT, sf_dir.rstrip("/"))


def check_query(spark: SparkSession, name: str, sf_dir: str) -> CompareResult:
    from .queries import oracle_sql, queries

    df = queries()[name](spark, sf_dir)
    # the value hash stringifies cells and cannot canonicalize array, map
    # or struct cells, so every registered query must emit scalars only
    nested = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    if nested:
        res = CompareResult(name, False, -1, -1)
        res.mismatches.append(f"non-scalar columns {nested}: the value hash cannot canonicalize them")
        return res
    spark_pdf = df.toPandas()
    sql = oracle_sql().get(name)
    if sql is None:
        ok = len(spark_pdf) >= 0
        return CompareResult(name + " (rows-only)", ok, len(spark_pdf), -1)
    con = duckdb_conn(sf_dir)
    oracle_pdf = con.execute(retarget_oracle_sql(sql, sf_dir)).fetchdf()
    con.close()
    return compare_frames(name, spark_pdf, oracle_pdf)


def check_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[CompareResult]:
    from .queries import queries

    out = []
    for name in names or sorted(queries()):
        try:
            out.append(check_query(spark, name, sf_dir))
        except Exception as e:  # surface, don't abort the sweep
            r = CompareResult(name, False, -1, -1)
            r.mismatches.append(f"exception: {type(e).__name__}: {e}")
            out.append(r)
    return out
