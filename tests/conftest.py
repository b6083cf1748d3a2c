import duckdb
import pytest

from isen_projet_bigdata_a3s6_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def duck_rows(sql):
    """Rows of ``sql`` run on a fresh in-memory DuckDB connection."""
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def duck_table(sf, table):
    """Every row of ``{sf}/{table}.parquet`` as a list of dicts, read by
    DuckDB (the independent reference side of the query tests)."""
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT * FROM read_parquet('{sf}/{table}.parquet')"
        ).fetchall()
        cols = [d[0] for d in con.description]
    return [dict(zip(cols, r)) for r in rows]
