"""The driver JVM's class-data-sharing (CDS) archive in ``session.get_spark``:
what the archive is keyed by, when CDS is skipped, and a life cycle of real
sessions in subprocesses (dump, map, a mismatched archive removed)."""

import os
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext

from isen_projet_bigdata_a3s6_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One short program per subprocess: its stdout ends with "done", after the
# driver JVM's pid and what the JVM saw.
SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from isen_projet_bigdata_a3s6_spark import session
spark = session.get_spark(
    app_name="cds-test", master="local[2]",
    extra_conf={{"spark.driver.extraJavaOptions": "-Dspark_graft.probe=kept"}},
)
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{{pid}}/cmdline", "rb") as f:
    cmdline = f.read().split(b"\\0")
d = session.cds_dir()
print("pid", pid)
print("probe", spark._jvm.java.lang.System.getProperty("spark_graft.probe"))
print("dumps", any(a.startswith(b"-XX:ArchiveClassesAtExit=") for a in cmdline))
print("mapped", any(session.archive_mapped(pid, os.path.join(d, n)) for n in os.listdir(d) if n.endswith(".jsa")))
print("rows", spark.range(10).count())
print("done")
"""


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """A process state in which get_spark would launch a driver JVM, with
    the archive cache in a temp dir."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "no-conf"))
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    return tmp_path


def test_cds_key_follows_jar_size_and_mtime(tmp_path):
    java = session.java_binary()
    jar = tmp_path / "jars" / "a.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"x" * 10)
    mtime = jar.stat().st_mtime_ns
    key = session.cds_key(java, str(tmp_path))
    assert session.cds_key(java, str(tmp_path)) == key

    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(mtime, mtime))
    resized = session.cds_key(java, str(tmp_path))
    assert resized != key

    os.utime(jar, ns=(mtime, mtime + 10**9))
    touched = session.cds_key(java, str(tmp_path))
    assert touched not in (key, resized)

    (tmp_path / "jars" / "b.jar").write_bytes(b"")
    assert session.cds_key(java, str(tmp_path)) not in (key, resized, touched)


def test_plan_dumps_then_maps_a_whole_archive(no_jvm):
    plan = session._plan_cds({})
    assert plan.archive is None and plan.dump_to.endswith(f".{os.getpid()}.tmp")
    assert os.listdir(plan.conf_dir) == []
    assert plan.java_options().startswith(f"-XX:ArchiveClassesAtExit={plan.dump_to} ")

    base = plan.dump_to.rsplit(".", 2)[0]
    with open(f"{base}-5.jsa", "wb") as f:
        f.write(b"12345")
    plan = session._plan_cds({})
    assert plan.archive == f"{base}-5.jsa" and plan.dump_to is None
    assert plan.java_options().startswith(f"-XX:SharedArchiveFile={base}-5.jsa ")

    # cut short after it was written: never handed to a JVM, and removed
    with open(f"{base}-5.jsa", "wb") as f:
        f.write(b"123")
    assert session._plan_cds({}).archive is None
    assert not os.path.exists(f"{base}-5.jsa")


def test_plan_removes_orphaned_temp_archives(no_jvm):
    directory = session.cds_dir()
    os.makedirs(directory)
    dead = subprocess.Popen(["true"])
    dead.wait()
    orphan = os.path.join(directory, f"abc.{dead.pid}.tmp")
    live = os.path.join(directory, f"abc.{os.getpid()}.tmp")
    for path in (orphan, live):
        open(path, "wb").close()
    session._plan_cds({})
    assert not os.path.exists(orphan) and os.path.exists(live)


def test_real_conf_dir_disables_cds(no_jvm, monkeypatch):
    conf_dir = no_jvm / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert session._plan_cds({}) is not None

    (conf_dir / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._plan_cds({}) is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.jars": "/x.jar"},
        {"spark.jars.packages": "a:b:1"},
        {"spark.driver.extraClassPath": "/x"},
        {"spark.driver.extraJavaOptions": "-Xshare:off"},
        {"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"},
    ],
)
def test_caller_classpath_or_cds_flags_disable_cds(no_jvm, conf):
    assert session._plan_cds(conf) is None


def test_running_jvm_disables_cds(no_jvm, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._plan_cds({}) is None


def test_test_session_maps_its_archive(spark):
    """The tier-1 session (conftest) maps the archive whenever it was
    handed one: the session that dumps it and the ones that map it run
    with one classpath."""
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        flags = [a.decode() for a in f.read().split(b"\0") if a.startswith(b"-XX:")]
    archive = next((a.split("=", 1)[1] for a in flags if a.startswith("-XX:SharedArchiveFile=")), None)
    if archive is None:
        pytest.skip("this session writes the archive" if any("ArchiveClassesAtExit" in a for a in flags)
                    else "CDS is skipped in this environment")
    assert session.archive_mapped(pid, archive)


def _run(env):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-1] == "done", proc.stdout[-2000:]
    out = dict(line.split(" ", 1) for line in lines[:-1] if " " in line)
    assert out["probe"] == "kept" and out["rows"] == "10"
    if out["dumps"] == "True":
        # the exit hook waited for the dumping JVM
        assert not os.path.exists(f"/proc/{out['pid']}"), "the dumping JVM outlived its program"
    else:
        # a mapping JVM exits on its own once its stdin closes, as without CDS
        deadline = time.monotonic() + 60
        while os.path.exists(f"/proc/{out['pid']}") and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not os.path.exists(f"/proc/{out['pid']}"), "the driver JVM outlived its program by 60 s"
    return out


def test_sessions_dump_then_map_the_archive(tmp_path):
    drop = ("PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV)
    env = {k: v for k, v in os.environ.items() if k not in drop}
    env.update(
        XDG_CACHE_HOME=str(tmp_path), SPARK_CONF_DIR=str(tmp_path / "no-conf"),
        SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2",
    )
    directory = os.path.join(os.path.realpath(tmp_path), "spark-graft", "cds")

    def archives():
        return sorted(n for n in os.listdir(directory) if n.endswith(".jsa"))

    first = _run(env)
    assert first["dumps"] == "True" and first["mapped"] == "False"
    assert len(archives()) == 1, os.listdir(directory)
    assert not [n for n in os.listdir(directory) if n.endswith(".tmp")]

    second = _run(env)
    assert second["dumps"] == "False" and second["mapped"] == "True"

    # an archive the JVM refuses (here, not an archive at all) costs the
    # session its speed-up, not its start, and is removed
    (name,) = archives()
    os.remove(os.path.join(directory, name))
    with open(os.path.join(directory, name.rsplit("-", 1)[0] + "-4096.jsa"), "wb") as f:
        f.write(os.urandom(4096))
    third = _run(env)
    assert third["dumps"] == "False" and third["mapped"] == "False"
    assert archives() == []


# The first Column a fresh process builds after get_spark: PySpark reads the
# call-site conf once, then. ``_capture_call_site`` runs exactly when
# ``_with_origin`` sets the JVM's PySparkCurrentOrigin, so counting its calls
# counts those round trips.
ORIGIN_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.errors import utils
from pyspark.sql import functions as F
from isen_projet_bigdata_a3s6_spark import session
spark = session.get_spark(app_name="origin-test", master="local[1]")
calls = []
capture = utils._capture_call_site
utils._capture_call_site = lambda depth: calls.append(depth) or capture(depth)
F.col("a") + 1
print("off", len(calls))
utils._enable_debugging_cache = True
F.col("a") + 1
print("on", len(calls))
print("done")
"""


def test_get_spark_builds_columns_without_call_site_capture():
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "1"}
    proc = subprocess.run(
        [sys.executable, "-c", ORIGIN_SCRIPT.format(repo=REPO)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-1] == "done", proc.stdout[-2000:]
    out = dict(line.split(" ", 1) for line in lines[:-1] if " " in line)
    assert out["off"] == "0"
    # the control: with capture on, the same expression is captured
    assert int(out["on"]) > 0
