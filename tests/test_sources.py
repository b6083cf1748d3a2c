"""Source operators: CSV round-trip (S1/S2), ns-parquet, and the reader
cache."""

import os

import pytest

from isen_projet_bigdata_a3s6_spark.sources.readers import (
    load_table,
    read_parquet_ns_safe,
)
from isen_projet_bigdata_a3s6_spark.sources.writers import write_csv


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    out = str(tmp_path / "csv_out")
    write_csv(df, out, single_file=True)
    back = spark.read.schema(df.schema).option("header", "true").csv(out)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]


def test_ns_parquet_reader(spark, sf_dir):
    # events.ts is TIMESTAMP(NANOS) parquet — reader must produce timestamps
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.filter(e.ts.isNotNull()).count() == e.count()
    # non-ns tables untouched
    o = read_parquet_ns_safe(spark, os.path.join(sf_dir, "orders.parquet"))
    assert dict(o.dtypes)["o_orderdate"].startswith("timestamp")


def test_json_orc_roundtrip_type_exact(spark, tmp_path):
    from isen_projet_bigdata_a3s6_spark.sources.writers import write_json, write_orc

    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, "y", -2.25)], "id long, s string, v double"
    )
    jdir, odir = str(tmp_path / "j"), str(tmp_path / "o")
    write_json(df, jdir)
    back_j = spark.read.schema("id long, s string, v double").json(jdir)
    assert sorted(map(tuple, back_j.collect())) == [(1, "x", 1.5), (2, "y", -2.25)]
    write_orc(df, odir)
    back_o = spark.read.orc(odir)
    assert back_o.schema == df.schema  # ORC: type-exact round trip
    assert sorted(map(tuple, back_o.collect())) == [(1, "x", 1.5), (2, "y", -2.25)]


def test_clustered_layout_prunes_and_sorts(spark, sf_dir, tmp_path):
    """write_clustered: hive dirs on the partition column, range-clustered
    files, rows sorted within files — and a reader filter on the partition
    column prunes before any file I/O."""
    import os as _os

    from pyspark.sql import functions as F

    from isen_projet_bigdata_a3s6_spark.sources.writers import write_clustered

    e = load_table(spark, sf_dir, "events").withColumn("dt", F.to_date("ts"))
    out = str(tmp_path / "events_clustered")
    write_clustered(
        e.select("event_id", "ts", "value", "dt"), out,
        partition_by=["dt"], range_cols=["ts"],
    )
    assert any(d.startswith("dt=") for d in _os.listdir(out))
    back = spark.read.parquet(out)
    week = back.filter(F.col("dt") == "2024-01-05")
    plan = week._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters")[1][:200]
    # within every physical file, rows are ts-sorted (footer min/max stats
    # effective for row-group skipping)
    per_file: dict[str, list] = {}
    for r in (
        spark.read.parquet(out + "/dt=2024-01-05")
        .select("ts", F.input_file_name().alias("f"))
        .collect()
    ):
        per_file.setdefault(r["f"], []).append(r["ts"])
    assert per_file and all(v == sorted(v) for v in per_file.values())
    assert week.count() == e.filter(F.col("dt") == "2024-01-05").count()


def test_zorder_key_interleave(spark):
    from pyspark.sql import functions as F

    from isen_projet_bigdata_a3s6_spark.sources.writers import zorder_key2

    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5), (7, 7)], "a int, b int")
    got = [r["z"] for r in df.select(zorder_key2("a", "b", bits=4).alias("z")).collect()]
    def morton(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z
    assert got == [morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5), (7, 7)]]


def test_write_zordered_range_guard(spark, tmp_path):
    import pytest

    from isen_projet_bigdata_a3s6_spark.sources.writers import write_zordered

    df = spark.createDataFrame([(1, 1 << 10)], "a int, b int")
    with pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "z"), "a", "b", bits=8)


# --- the reader cache: schema inferred once per (file identity, confs) ------


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def _jobs_in_group(spark, group, fn):
    """Spark jobs ``fn`` launches, seen through the status tracker of a job
    group set before it runs and read back after it."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return set(sc.statusTracker().getJobIdsForGroup(group)) - before, out


@pytest.mark.parametrize("same_size", [False, True])
def test_rewritten_file_serves_new_schema(spark, tmp_path, same_size):
    p = str(tmp_path / "t.parquet")
    _write(p, a=[1, 2, 3])
    assert read_parquet_ns_safe(spark, p).columns == ["a"]
    st = os.stat(p)
    if same_size:
        # same size, same inode, same mtime: only the footer tells them apart
        _write(p, b=[1, 2, 3])
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
        st2 = os.stat(p)
        assert (st2.st_size, st2.st_ino, st2.st_mtime_ns) == (st.st_size, st.st_ino, st.st_mtime_ns)
        want_cols, want = ["b"], [(1,), (2,), (3,)]
    else:
        _write(p, b=[1, 2, 3], c=["x", "y", "z"])
        assert os.stat(p).st_size != st.st_size
        want_cols, want = ["b", "c"], [(1, "x"), (2, "y"), (3, "z")]
    back = read_parquet_ns_safe(spark, p)
    assert back.columns == want_cols
    assert sorted(map(tuple, back.collect())) == want


def test_flipped_schema_confs_are_not_served_stale(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import types as T

    bin_path = str(tmp_path / "bin.parquet")
    _write(bin_path, k=[1], blob=pa.array([b"hi"], pa.binary()))
    ns_path = str(tmp_path / "ns.parquet")
    _write(ns_path, ts=pa.array([dt.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("ns")))
    assert isinstance(read_parquet_ns_safe(spark, bin_path).schema["blob"].dataType, T.BinaryType)
    assert dict(read_parquet_ns_safe(spark, ns_path).dtypes)["ts"] == "timestamp"
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert isinstance(read_parquet_ns_safe(spark, bin_path).schema["blob"].dataType, T.StringType)
        # without nanos-as-long a cached long schema must not be reused
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(ValueError, match="nanosAsLong"):
            read_parquet_ns_safe(spark, ns_path)
    finally:
        spark.conf.set("spark.sql.parquet.binaryAsString", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(read_parquet_ns_safe(spark, bin_path).schema["blob"].dataType, T.BinaryType)


def test_events_ts_matches_duckdb(spark, sf_dir):
    """events.ts is TIMESTAMP(NANOS): the reader's exact ``div 1000`` gives
    the microseconds DuckDB reads from the same file."""
    import duckdb

    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "events.parquet")
    got = {
        (r[0], r[1])
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts"))
        .collect()
    }
    want = set(
        duckdb.connect()
        .execute(f"SELECT event_id, epoch_us(ts) FROM read_parquet('{path}')")
        .fetchall()
    )
    assert got == want and len(got) > 0


def test_warm_load_table_runs_no_job(spark, sf_dir, tmp_path):
    cold = str(tmp_path / "cold.parquet")
    _write(cold, a=[1, 2])
    jobs, _ = _jobs_in_group(spark, "reader-cold", lambda: read_parquet_ns_safe(spark, cold))
    assert jobs, "a cold read infers the schema with a job; the check must see it"
    for name in ("orders", "events"):
        load_table(spark, sf_dir, name)
    jobs, dfs = _jobs_in_group(
        spark, "reader-warm",
        lambda: [load_table(spark, sf_dir, n) for n in ("orders", "events")],
    )
    assert jobs == set()
    assert dict(dfs[1].dtypes)["ts"] == "timestamp"


def test_reader_cache_stays_bounded(spark, tmp_path, monkeypatch):
    from isen_projet_bigdata_a3s6_spark.sources import readers

    monkeypatch.setattr(readers, "META_CACHE_FILES", 3)
    paths = [str(tmp_path / f"f{i}.parquet") for i in range(6)]
    for i, p in enumerate(paths):
        _write(p, a=[i])
        assert read_parquet_ns_safe(spark, p).collect()[0]["a"] == i
        assert len(readers._META_CACHE) <= 3
    assert paths[-1] in readers._META_CACHE and paths[0] not in readers._META_CACHE


def test_reader_cache_threads_keep_it_bounded(tmp_path, monkeypatch):
    """Eight threads hit a three-file cache with four files: no lost update
    (a KeyError from an entry evicted under another thread) and the bound
    holds. Spark is replaced by a stub: only the cache is under test."""
    import sys
    import threading
    from types import SimpleNamespace

    from pyspark.sql import types as T

    from isen_projet_bigdata_a3s6_spark.sources import readers

    monkeypatch.setattr(readers, "META_CACHE_FILES", 3)
    stub = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k: "true"),
        read=SimpleNamespace(parquet=lambda p: SimpleNamespace(schema=T.StructType())),
    )
    paths = []
    for i in range(4):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        _write(paths[-1], a=list(range(i + 1)))
    errors = []

    def work(k):
        try:
            for j in range(500):
                i = (k + j) % 4
                assert readers._parquet_meta(stub, paths[i]).num_rows == i + 1
        except Exception as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(readers._META_CACHE) <= 3
