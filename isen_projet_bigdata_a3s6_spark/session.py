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

:func:`get_spark` also turns off PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``). With it on, every Column
function walks the Python stack and sets and clears the JVM's
``PySparkCurrentOrigin``: about four more py4j round trips per call, which
is most of the driver work of building a query like q79. It changes no
result, so it is not in the contract. The cost is that an analysis error
no longer names the Python line that built the failing expression. PySpark
reads the conf once per process, when the first Column is built, so it
takes effect only if set before then: a caller who wants call sites back
passes ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"}`` to the first :func:`get_spark` of the process.

Most of a fresh session's start and of its first query is the driver JVM
loading classes. So the driver JVM that :func:`get_spark` launches uses a
JDK dynamic class-data-sharing (CDS) archive: a session with no archive yet
has its JVM write the classes it loaded to one as it exits
(``-XX:ArchiveClassesAtExit``), and later sessions map them
(``-XX:SharedArchiveFile``). The archive lives outside the checkout, in
:func:`cds_dir`, keyed by :func:`cds_key`. The JVM checks that the archive
fits its classpath, and Spark puts ``$SPARK_CONF_DIR`` on that classpath, so
the launched JVM gets an empty conf dir instead. CDS is skipped wherever
that could change what the JVM runs: when the real conf dir holds a file
Spark would read, when the caller adds classpath entries or CDS flags of its
own, and when the session reuses a JVM that is already up (a host-provided
session). A partial, stale or mismatched archive never makes a session
fail: one cut short is not handed to the JVM, the JVM runs without one that
does not fit, and either is removed so that a session writes a fresh one.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from contextlib import suppress
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


#: confs and environment variables that add classpath entries (an archive
#: fits only the classpath it was dumped with), and the caller's own CDS
#: flags: with any of them set, CDS is skipped
_CLASSPATH_CONFS = ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
)
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: JVM log lines go to stderr, warnings and worse only: a dumping JVM
#: otherwise prints a line per class it skips to stdout, after the program's
#: own last line
_JVM_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"
#: how long an exiting program waits for its driver JVM (and its archive)
_JVM_EXIT_WAIT_S = 120


def cds_dir() -> str:
    """Where driver CDS archives are kept: ``spark-graft/cds`` in the user's
    cache (``$XDG_CACHE_HOME``, else ``~/.cache``)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(os.path.realpath(base), "spark-graft", "cds")


def java_binary() -> str | None:
    """The java that Spark's launch scripts run (``$JAVA_HOME/bin/java``,
    else the one on ``PATH``), with links resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def cds_key(java: str, spark_home: str) -> str:
    """Name of the archive for a driver JVM: a digest of the java binary and
    its runtime image (path, size, mtime), ``SPARK_HOME``, and the name, size
    and mtime of every jar Spark puts on the classpath."""
    runtime = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(os.path.realpath(spark_home).encode())
    for path in [java, runtime] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def archive_mapped(pid: int, archive: str) -> bool:
    """Whether process ``pid`` has the CDS archive ``archive`` mapped, that
    is, whether its JVM accepted the archive."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(line.rstrip("\n").endswith(" " + archive) for line in f)
    except OSError:
        return False


@dataclass(frozen=True)
class _Cds:
    conf_dir: str  # the empty SPARK_CONF_DIR the JVM starts with
    archive: str | None = None  # the archive the JVM maps, or
    dump_to: str | None = None  # where it writes one: <dir>/<key>.<pid>.tmp

    def java_options(self) -> str:
        if self.dump_to:
            return f"-XX:ArchiveClassesAtExit={self.dump_to} {_JVM_LOG_OPTIONS}"
        return f"-XX:SharedArchiveFile={self.archive} {_JVM_LOG_OPTIONS}"


def _conf_dir_inert(conf_dir: str) -> bool:
    """Whether Spark would read no file of ``conf_dir``: it is absent or holds
    only ``*.template`` files."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def _whole_archive(directory: str, key: str) -> str | None:
    """The archive for ``key`` if one is whole. Its name records the size it
    was written with (``<key>-<size>.jsa``): the JVM trusts an archive's
    contents, and one cut short since crashes it. Any other file for ``key``
    (cut short, or a second one from a concurrent dump) is removed."""
    found = None
    for name in os.listdir(directory):
        if name.startswith(key + "-") and name.endswith(".jsa"):
            path = os.path.join(directory, name)
            with suppress(OSError):
                if found is None and name == f"{key}-{os.path.getsize(path)}.jsa":
                    found = path
                else:
                    os.remove(path)
    return found


def _remove_orphans(directory: str) -> None:
    """Remove the temp archives of processes that exited before renaming them."""
    for name in os.listdir(directory):
        pid = name.rsplit(".", 2)[1] if name.endswith(".tmp") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            with suppress(OSError):
                os.remove(os.path.join(directory, name))


def _plan_cds(conf: dict[str, str]) -> _Cds | None:
    """The archive for the driver JVM about to be launched with ``conf``, or
    None where CDS is skipped (see the module docstring)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if (
        any(conf.get(k) for k in _CLASSPATH_CONFS)
        or any(os.environ.get(k) for k in _CLASSPATH_ENV)
        or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell"
        or any(f in conf.get("spark.driver.extraJavaOptions", "") for f in _CDS_FLAGS)
    ):
        return None
    spark_home = _find_spark_home()
    java = java_binary()
    directory = cds_dir()
    # Spark splits extraJavaOptions on whitespace and reads quotes
    if java is None or any(c.isspace() or c in "'\"\\" for c in directory):
        return None
    try:
        if not _conf_dir_inert(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
            return None
        conf_dir = os.path.join(directory, "empty-conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(directory, os.W_OK):
            return None
        key = cds_key(java, spark_home)
        archive = _whole_archive(directory, key)
        _remove_orphans(directory)
    except OSError:
        return None
    if archive:
        return _Cds(conf_dir, archive=archive)
    return _Cds(conf_dir, dump_to=os.path.join(directory, f"{key}.{os.getpid()}.tmp"))


def _finish_dump_at_exit(proc: subprocess.Popen, dump_to: str) -> None:
    """Exit hook of a process whose driver JVM dumps an archive: stop the
    session, close the JVM's stdin (on which it exits, writing the archive)
    and wait for it, so the archive is complete when the program ends and
    the JVM does not outlive it. A complete archive is renamed into place;
    what a failed or stopped dump left is removed."""
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        try:
            proc.stdin.close()
            proc.wait(timeout=_JVM_EXIT_WAIT_S)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    with suppress(OSError):
        size = os.path.getsize(dump_to)
        if proc.returncode == 0 and size > 0:
            os.replace(dump_to, f"{dump_to.rsplit('.', 2)[0]}-{size}.jsa")
    with suppress(OSError):
        os.remove(dump_to)


def _launch(builder: SparkSession.Builder, cds: _Cds | None) -> SparkSession:
    """``builder.getOrCreate()``; with CDS, the launched JVM alone sees the
    empty conf dir, and the archive is checked once the JVM is up."""
    if cds is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = SparkContext._gateway.proc if SparkContext._gateway else None
    if proc is None:
        return spark
    if cds.dump_to:
        atexit.register(_finish_dump_at_exit, proc, cds.dump_to)
    elif not archive_mapped(proc.pid, cds.archive):
        # stale or mismatched: the next session dumps a fresh one
        with suppress(OSError):
            os.remove(cds.archive)
    return spark


def get_spark(
    app_name: str = "isen_a3s6_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession. ``extra_conf`` overrides the
    defaults; a ``spark.driver.extraJavaOptions`` in it is kept, after the
    CDS flags."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or host_driver_memory(),
        "spark.ui.enabled": "false",
        # exact percentiles are the default for oracle parity; flip to
        # approx at scale via functions.scalar.percentile(exact=False)
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # no Python call site on Column calls (see the module docstring)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **SESSION_CONTRACT,
        **(extra_conf or {}),
    }
    cds = _plan_cds(conf)
    if cds:
        caller = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{cds.java_options()} {caller}".strip()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = _launch(builder, cds)
    spark.sparkContext.setLogLevel("WARN")
    return spark
