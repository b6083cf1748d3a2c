"""SparkSession factory and the engine's session contract.

The reference (R_groupe4.R:41) runs one eager single-threaded R process; our
engine runs the same logical workload on Spark. Defaults fit the host the
session starts on: ``local[<cores this process may use>]`` and a driver heap
of half the machine's memory (``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM``
override them). Every other knob is the one you'd also set on a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to cores, Arrow enabled for the few
pandas-UDF paths.

The session contract (:data:`SESSION_CONTRACT`) is the set of confs every
query relies on. It lives here and only here: :func:`get_spark` builds
sessions with it, and ``__spark_entry__`` applies it once per application to
a host-provided session (:func:`apply_session_contract`). Readers and
operators never set it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SESSION_CONTRACT = {
    # DuckDB timestamps are UTC-naive: calendar fields (event-time windows,
    # date_trunc) match it bit-for-bit only in a UTC session
    "spark.sql.session.timeZone": "UTC",
    # testdata timestamps are parquet TIMESTAMP(MICROS, isAdjustedToUTC
    # = false); Spark 4 would infer TIMESTAMP_NTZ, which watermarks and
    # time-window functions reject. Reading them as UTC instants keeps
    # calendar fields identical to DuckDB's naive reading AND keeps filter
    # pushdown on the scan.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # TIMESTAMP(NANOS) columns (events.ts), which Spark rejects otherwise,
    # read as long; sources.readers converts them with exact integer division
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def host_cpus() -> int:
    """Cores this process may run on (its CPU affinity, not the machine's)."""
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """Half of the machine's memory, in whole GiB (at least 1): the local
    driver JVM also hosts the executors, the rest is left to Python workers
    and the OS."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kib // (2 * 1024 * 1024))}g"


def apply_session_contract(spark: SparkSession) -> None:
    for k, v in SESSION_CONTRACT.items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "isen_a3s6_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    At 100 TB the same config holds except ``master``/memory come from the
    cluster manager and ``spark.sql.shuffle.partitions`` should be sized to
    ~2-3x total cores (or left to AQE's coalescing with a high initial value).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nparts = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or host_driver_memory())
        .config("spark.ui.enabled", "false")
        # exact percentiles are the default for oracle parity; flip to
        # approx at scale via functions.scalar.percentile(exact=False)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**SESSION_CONTRACT, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
