"""/proc readers: the driver JVM, its Python workers, and foreign Spark JVMs."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # comm may contain spaces or parens: split after its closing paren
        return f.read().rsplit(")", 1)[1].split()


def _ppid(pid: int) -> int:
    try:
        return int(_stat_fields(pid)[1])
    except (OSError, IndexError, ValueError):
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _descends_from(pid: int, ancestor: int) -> bool:
    for _ in range(64):  # bounded: /proc can change under the walk
        if pid == ancestor:
            return True
        pid = _ppid(pid)
        if pid <= 1:
            return False
    return False


def spark_jvms() -> list[tuple[int, bool]]:
    """Every live Spark JVM as (pid, ours); ours = descends from this process."""
    me = os.getpid()
    out = []
    for pid in _pids():
        cmd = _cmdline(pid)
        if "java" in cmd and "spark" in cmd.lower():
            out.append((pid, _descends_from(pid, me)))
    return out


def foreign_spark_jvms() -> int:
    return sum(1 for _, ours in spark_jvms() if not ours)


def own_jvm_pid() -> int | None:
    ours = [pid for pid, mine in spark_jvms() if mine]
    return ours[0] if ours else None


def cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime of ``pid`` (plus reaped children with ``children``)."""
    try:
        f = _stat_fields(pid)
    except (OSError, IndexError):
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


class JitCpu:
    """Cumulative CPU of a JVM's JIT compiler threads. The JVM starts and
    ends compiler threads as the compile queue grows and drains, and an
    ended thread's CPU no longer shows per thread; so each read adds the
    growth of the live threads since the last read, and a thread that ended
    loses only its last unread interval, in which it was idling."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.seen: dict[str, int] = {}
        self.ticks = 0

    def cpu_s(self) -> float:
        live = {}
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                with open(f"/proc/{self.pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                with open(f"/proc/{self.pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the thread ended
                continue
            live[tid] = int(fields[11]) + int(fields[12])
            self.ticks += live[tid] - self.seen.get(tid, 0)
        self.seen = live
        return self.ticks / _CLK_TCK


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU of the Python worker daemon and workers under the JVM; workers the
    daemon has reaped are folded in through its children's CPU."""
    total = 0.0
    for pid in _pids():
        if pid != jvm_pid and "python" in _cmdline(pid) and _descends_from(pid, jvm_pid):
            total += cpu_s(pid, children=True)
    return total


def host_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def rss_peak_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
