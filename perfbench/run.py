"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Pins the environment (cores, driver memory,
scratch and temp directories inside the checkout), runs ``harness.py`` in its
own process group, relays its output and exits with its code. Everything the
run writes lands under ``perfbench/.work`` (removed afterwards) and
``perfbench/out`` (one detail file per run).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _stop_group(pgid: int) -> None:
    """Stop whatever the run left in its process group and wait for it."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="fixture scale factor instead of the workload's own")
    args = ap.parse_args()

    for need in ("__spark_entry__.py", "isen_projet_bigdata_a3s6_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        # every JVM, the spark-submit launcher's too: temp files in the
        # checkout and no hsperfdata files in the system temp directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(HERE, "out"),
    ]
    if args.sf:
        cmd += ["--sf", str(args.sf)]
    # on SIGTERM, still stop the harness's process group below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s, stopped", file=sys.stderr)
        out, code = "", 3
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    # a run with wrong outputs still prints its result, then exits non-zero
    sys.stdout.write(out or "")
    return code


if __name__ == "__main__":
    sys.exit(main())
