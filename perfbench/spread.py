"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload olap_tpch --seeds 1-10 --save a.json
    python3 perfbench/spread.py --workload olap_tpch --seeds 1-10 --against a.json

Runs the benchmark once per seed (``run_seconds`` from BENCHMARK.json) and
prints, per metric, the median and the interquartile range as a share of the
median. A spread above the metric's bound fails the set (``FAIL``); one above
a third of it is marked as over the steadiness target. With ``--against``,
each median is compared with that of an earlier set saved by ``--save``; a
change for the worse by more than the bound fails. The exit code is 1 when
anything failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--save", help="write the per-seed values to this JSON file")
    ap.add_argument("--against", help="a file written by --save, to compare medians with")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))

    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        try:
            out, err = proc.communicate()
        except BaseException:
            proc.terminate()  # run.py stops its harness on SIGTERM
            proc.wait()
            raise
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{err[-2000:]}")
            return 1
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: wall {wall:.1f} s  " + "  ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    if args.save:
        with open(args.save, "w") as f:
            json.dump(values, f, indent=1)
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)

    failed = False
    for m in bench["end_to_end"]:
        k, bound, xs = m["name"], m["bound"], values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        # set-up time is exempt from the spread check, not from the drift check
        over = k != "setup_s" and spread > bound
        line = f"{k:18s} median {med:<10.5g} iqr/median {spread:.3f}  bound {bound}"
        line += "  FAIL spread > bound" if over else "  over target bound/3" if spread > bound / 3 else ""
        if k in earlier:
            before = statistics.median(earlier[k])
            worse = (med - before) / before if m["better"] == "lower" else (before - med) / before
            line += f"  | earlier median {before:.5g}, worse by {worse:+.3f}"
            if worse > bound:
                line += "  FAIL drift > bound"
                over = True
        failed |= over
        print(line)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
