"""Round-9 fixes: the four r08 ADVICE items and the q161 slack-parity
proof (VERDICT r08 item 3).
"""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from isen_projet_bigdata_a3s6_spark import queries as Q
from isen_projet_bigdata_a3s6_spark.oracle_check import DRIVER_FIXTURE_ROOT


# ---------------------------------------------------------------------------
# q161/q287/q40 relative-ceil-slack parity (VERDICT r08 item 3): on every
# realistic document size the RELATIVE slack (1e-9·sz) and the absolute
# slack (1e-9) produce the SAME prefix lengths and the same positional/
# length-filter outcomes — so the r08 q161 bench move cannot have come from
# candidate growth; it was box noise. Exhaustive, not sampled: every size
# up to 200k tokens (the sf1 fixture's largest documents are ~3 orders of
# magnitude smaller).
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("t", [0.3, 0.5, 0.6, 0.8, 0.85])
def test_prefix_ceil_slack_parity_exhaustive(t):
    for sz in range(1, 200_001):
        rel = math.ceil(t * sz - 1e-9 * sz)
        ab = math.ceil(t * sz - 1e-9)
        assert rel == ab, (t, sz)


@pytest.mark.parametrize("t", [0.6, 0.85])
def test_positional_alpha_slack_parity_exhaustive(t):
    # the positional filter compares an INTEGER bound against
    # alpha = t·s/(1+t) − slack; outcomes differ only if the two slacks
    # straddle an integer, which never happens for any s reachable here
    for s in range(2, 400_001):
        a_rel = t * s / (1.0 + t) - 1e-9 * s
        a_abs = t * s / (1.0 + t) - 1e-9
        assert math.ceil(a_rel) == math.ceil(a_abs), (t, s)
        # comparison outcome parity for the two integers around the bound
        for bound in (math.floor(a_rel), math.ceil(a_rel)):
            assert (bound >= a_rel) == (bound >= a_abs), (t, s, bound)


# ---------------------------------------------------------------------------
# CMS affine family: negative integer keys hash identically on both engines
# now that the oracle mirrors pmod (r08 advisory — SQL % keeps the
# dividend's sign)
# ---------------------------------------------------------------------------
def test_cms_affine_negative_key_parity(spark):
    from isen_projet_bigdata_a3s6_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_oracle_sql,
    )

    rows = [(-5,)] * 3 + [(-1,)] * 2 + [(0,)] * 4 + [(7,)] * 5 + [(-2**40,)]
    df = spark.createDataFrame(rows, "k long")
    cms = cms_build(df, "k", width=32, depth=4, hash_family="affine")
    est = (
        cms_estimate(cms, df, "k", width=32, depth=4, hash_family="affine")
        .orderBy("k")
        .collect()
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = cms_oracle_sql("t", "k", "TRUE", width=32, depth=4)
    oracle = con.execute(sql + " ORDER BY 1").fetchall()
    assert [(r["k"], r["est"]) for r in est] == [(k, int(e)) for k, e in oracle]


# ---------------------------------------------------------------------------
# dedup oracle normalization: explicit whitespace class matches Java \s on
# a vertical tab (RE2's \s omits U+000B — r08 advisory); the lower()
# locale divergence stays documented-and-pinned so a DuckDB behavior
# change surfaces here
# ---------------------------------------------------------------------------
def test_normalization_vertical_tab_parity(spark):
    text = "a\x0bb  c\td"
    spark_norm = spark.range(1).select(
        F.regexp_replace(F.lower(F.trim(F.lit(text))), "\\s+", " ").alias("t")
    ).first()["t"]
    duck_norm = duckdb.sql(
        "SELECT regexp_replace(lower(trim(?)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')",
        params=[text],
    ).fetchone()[0]
    assert spark_norm == duck_norm == "a b c d"


def test_lower_turkish_dotted_i_divergence_documented(spark):
    # Java lower('İ') → 'i̇' (i + combining dot), DuckDB 1.0 → 'i'. The
    # dedup oracles rely on fixture text never exercising locale-sensitive
    # case mappings; if either engine changes, this pin fails and the
    # docstring in functions/dedup.py must be revisited.
    s = spark.range(1).select(F.lower(F.lit("İ")).alias("x")).first()["x"]
    d = duckdb.sql("SELECT lower('İ')").fetchone()[0]
    assert len(s) == 2 and s[0] == "i"
    assert d == "i"
    assert s != d


# ---------------------------------------------------------------------------
# oracle fixture-path audit (r08 advisory): the ONLY absolute fixture path
# any registered oracle may embed is DRIVER_FIXTURE_ROOT (q271's
# read_parquet provenance), so retarget_oracle_sql's literal replace can
# never silently miss
# ---------------------------------------------------------------------------
def test_no_stray_fixture_paths_in_oracles():
    for name, sql in Q.oracle_sql().items():
        if "/root/testdata" in sql:
            assert name == "q271_file_provenance", name
            # and only via the shared constant's exact spelling
            assert DRIVER_FIXTURE_ROOT in sql
            assert sql.count("/root/testdata") == sql.count(DRIVER_FIXTURE_ROOT)


def test_retarget_uses_shared_constant():
    from isen_projet_bigdata_a3s6_spark.oracle_check import retarget_oracle_sql

    sql = Q.oracle_sql()["q271_file_provenance"]
    out = retarget_oracle_sql(sql, "/tmp/fixture/")
    assert "/root/testdata" not in out
    assert "/tmp/fixture/lineitem.parquet" in out
