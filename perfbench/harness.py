"""One benchmark run in one process: set up, check, then time closed-loop passes.

Started by ``run.py`` with the environment already pinned; prints one JSON
result as the last line of standard output. See ``BENCHMARK.json`` and
``perfbench/README.md`` for what is measured.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import re
import statistics
import sys
import time
import types

import datagen
import procfs
import tracing
from workloads import SF, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "isen_projet_bigdata_a3s6_spark"
NPROC = len(os.sched_getaffinity(0))
MIN_PASSES = 3  # untraced passes of a plain run: a median that can drop one slow pass
WARM_PASSES = 2  # untimed noop passes at the end of set-up
MIN_TRACED_PAIRS = 2  # untraced and traced passes each, in a traced run
PROBE_LONGS = 4_000_000  # size of the host-speed probe's sort (Bench.host_probe)
REF_PROBE_CPU_S = 0.5  # probe CPU time on the reference host; the end-to-end times are scaled to it

# metric -> unit, in output order; BENCHMARK.json lists the same. The
# end-to-end times are CPU seconds (see Bench._cpu_s) scaled to a reference
# host speed (see Bench.host_probe): on a shared VM the wall-clock times
# below swing with CPU stolen by other tenants, and CPU time with the load
# other tenants put on the shared cores (see README.md).
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "query_cpu_p90_s": "s",
    "rows_per_cpu_s": "rows/s",
}
WALL = {
    "wall.setup_s": "s", "wall.pass_s": "s", "wall.query_p50_s": "s", "wall.query_p90_s": "s",
    "wall.rows_per_s": "rows/s", "host.steal_frac": "ratio", "host.probe_cpu_s": "s",
}
PER_LAYER = {
    **WALL,
    # not judged: in a pool of a few queries of two cost levels the middle
    # sample flips between the levels from run to run (see README.md)
    "query_cpu_p50_s": "s",
    "session.start_s": "s", "entry.first_query_s": "s", "setup.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "readers.load_calls": "count", "readers.load_s": "s", "readers.schema_jobs": "count",
    "readers.input_mb": "MB", "readers.rows_read": "count", "readers.rows_read_per_row_out": "ratio",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.jvm_cpu_s": "s", "exec.cpu_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "plan.exchanges": "count", "plan.broadcast_joins": "count", "plan.sort_merge_joins": "count",
    "exec.failed_tasks": "count", "failed_frac": "ratio",
    # not judged: peak RSS follows G1's heap sizing, which varied by 15-20 %
    # from run to run (see README.md)
    "jvm_rss_peak_mb": "MB", "jvm.heap_live_mb": "MB",
    "functions.py_udf_nodes": "count", "functions.py_worker_cpu_s": "s",
    "ml.fit_s": "s", "ml.fit_jobs": "count", "ml.s_per_job": "s", "stats.s": "s", "stats.jobs": "count",
    "joins.knn_s": "s", "joins.knn_jobs": "count",
    "writers.calls": "count", "writers.write_s": "s", "writers.files_written": "count",
    "writers.bytes_written_mb": "MB",
    "trace.overhead_s": "s",
}

_PLAN_NODE = re.compile(r"^[\s:+\-|*]*(\w+)", re.M)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _median(xs)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan_counts(df) -> dict[str, int]:
    """Operator counts of the physical plan Spark chose before execution."""
    nodes = _PLAN_NODE.findall(df._jdf.queryExecution().executedPlan().toString())
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "broadcast_joins": sum(n.startswith("Broadcast") and n.endswith("Join") for n in nodes),
        "sort_merge_joins": nodes.count("SortMergeJoin"),
        "py_udf_nodes": sum(("Python" in n or "Pandas" in n) for n in nodes),
    }


class StageReader:
    """Job and stage metrics per job group, from Spark's status store."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()

    def settle(self) -> None:
        """Wait until the status listener has seen every finished job."""
        self.bus.waitUntilEmpty(30_000)

    def group(self, gid: str) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "input_bytes", "input_rows",
             "shuffle_read", "shuffle_write", "spill", "gc_ms"), 0)
        for jid in self.tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # evicted from the store; never at these sizes
                    continue
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.diskBytesSpilled()
                out["gc_ms"] += sd.jvmGcTime()
        return out


class Bench:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = args.sf or SF
        self.names = list(self.wl.queries)
        self.rng = random.Random(args.seed)
        self.work = args.work
        self.sf_dir = os.path.join(self.work, "data")
        self.contended = False
        self.probes: list[float] = []

    # ---------------------------------------------------------------- set-up
    def setup(self) -> None:
        self.contended |= procfs.foreign_spark_jvms() > 0
        self.table_rows = datagen.generate(self.sf_dir, self.sf, self.args.seed)
        self.rows_per_pass = sum(self.table_rows[t] for t in self.wl.queries.values())

        self.jvm_pid = None
        c0, t0 = self._cpu_s(), time.perf_counter()
        spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        from isen_projet_bigdata_a3s6_spark import queries as registry
        from isen_projet_bigdata_a3s6_spark.session import get_spark

        self.entry = entry
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = procfs.own_jvm_pid()
        self.jit = procfs.JitCpu(self.jvm_pid)
        t1 = time.perf_counter()
        # entry() reads a fixed fixture path; point its flagship query at ours
        sf_dir = self.sf_dir
        entry._registry = types.SimpleNamespace(q01_grouped_agg=lambda spark, _path: registry.q01_grouped_agg(spark, sf_dir))
        try:
            _noop(entry.entry(self.spark))
        finally:
            entry._registry = registry
        c2, t2 = self._cpu_s(), time.perf_counter()
        self.queries = entry.queries()
        # the gate is harness work (DuckDB, frame comparison): timed apart,
        # not part of the program's set-up
        self.gate()
        c3, t3 = self._cpu_s(), time.perf_counter()
        # warm-up: the gate runs each query cold, more noop passes let the
        # JIT settle so the first timed passes are not mostly compilation
        for _ in range(WARM_PASSES):
            for name in self.names:
                self.spark.catalog.clearCache()
                _noop(self.queries[name](self.spark, self.sf_dir))
        c4, t4 = self._cpu_s(), time.perf_counter()
        self.setup_cpu_s = (c2 - c0) + (c4 - c3)
        self.setup_times = {"session.start_s": t1 - t0, "entry.first_query_s": t2 - t1, "setup.warmup_s": t4 - t3}
        self.gate_s = t3 - t2
        self.setup_wall_s = (t2 - t0) + (t4 - t3)
        for _ in range(3):  # the first runs compile the sort: untimed, not kept
            self.host_probe()

    # ------------------------------------------------------------------ gate
    def gate(self) -> None:
        """Every query against its DuckDB twin, outside the timed passes. In a
        traced run it counts load_table calls per query with a profile hook,
        the independent check of the reader wrappers."""
        from isen_projet_bigdata_a3s6_spark.oracle_check import check_query
        from isen_projet_bigdata_a3s6_spark.sources import readers

        load_code = readers.load_table.__code__
        self.gate_failures: list[str] = []
        self.rows_out: dict[str, int] = {}
        self.profiled_loads: dict[str, int] = {}
        self.gate_query_s: dict[str, float] = {}
        for name in self.names:
            calls = 0

            def hook(frame, event, _arg):
                nonlocal calls
                if event == "call" and frame.f_code is load_code:
                    calls += 1

            self.spark.catalog.clearCache()
            if self.args.trace:
                sys.setprofile(hook)
            t0 = time.perf_counter()
            try:
                res = check_query(self.spark, name, self.sf_dir)
            except Exception as e:
                self.gate_failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                sys.setprofile(None)
                self.gate_query_s[name] = time.perf_counter() - t0
            self.rows_out[name] = res.row_count_spark
            self.profiled_loads[name] = calls
            if not res.ok:
                self.gate_failures.append(str(res))

    # ---------------------------------------------------------------- passes
    def run_passes(self, seconds: float) -> tuple[list[dict], list[dict]]:
        """Closed loop, one client: passes back to back until ``seconds`` have
        passed and MIN_PASSES are done. A traced run interleaves untraced and
        traced passes as U T T U U T T U..., so warm-up drift over the run
        does not read as trace overhead."""
        plain: list[dict] = []
        traced: list[dict] = []
        if self.args.trace:
            self.tracer = tracing.Tracer(self.sc, prefix=f"pb{self.args.seed}.")
            self.stages = StageReader(self.sc)
            self.span_jobs: dict[int, dict] = {}
        need = MIN_TRACED_PAIRS if self.args.trace else MIN_PASSES
        t_start = time.perf_counter()
        while (
            time.perf_counter() - t_start < seconds
            or len(plain) < need
            or self.args.trace and len(traced) != len(plain)
        ):
            is_traced = self.args.trace and (len(plain) + len(traced)) % 4 in (1, 2)
            (traced if is_traced else plain).append(self._pass(is_traced))
            self.probes.append(self.host_probe())
            self.contended |= procfs.foreign_spark_jvms() > 0
        return plain, traced

    def _pass(self, traced: bool) -> dict:
        order = self.names[:]
        self.rng.shuffle(order)
        installed = tracing.install(self.tracer, PACKAGE, self.entry) if traced else None
        try:
            c0, h0 = self._cpu_s(), procfs.host_ticks()
            t0 = time.perf_counter()
            recs = [self._traced_query(name) if traced else self._query(name) for name in order]
            wall = time.perf_counter() - t0
            cpu, h1 = self._cpu_s() - c0, procfs.host_ticks()
        finally:
            if installed:
                self.wrapped = installed.wrapped
                installed.uninstall()
        steal = (h1[1] - h0[1]) / max(h1[0] - h0[0], 1)
        return {"wall_s": wall, "cpu_s": cpu, "steal_frac": steal, "queries": recs}

    def host_probe(self) -> float:
        """CPU seconds the driver JVM spends sorting a fixed array of random
        longs with ``Arrays.parallelSort`` on all cores: the same work on
        every run and no program code, so it reads the host's speed. Other
        tenants on the shared cores slowed the passes of whole runs by up to
        1.6x; this probe's median over a run followed them (correlation 0.94
        over ten runs), and dividing by it cut the spread of pass_cpu_s from
        0.14 to 0.04 (see README.md)."""
        jvm = self.spark._jvm
        longs = jvm.java.util.Random(42).longs(PROBE_LONGS).toArray()
        c0 = self._cpu_s()
        jvm.java.util.Arrays.parallelSort(longs)
        return self._cpu_s() - c0

    def host_scale(self) -> float:
        """Factor from this run's CPU seconds to reference-host CPU seconds."""
        return REF_PROBE_CPU_S / _median(self.probes)

    def _cpu_s(self) -> float:
        """CPU time of the driver JVM without its JIT compiler threads (their
        background compiles come in bursts that add noise, not program work),
        this process and the Python workers."""
        t = os.times()
        if self.jvm_pid is None:
            return t.user + t.system
        jvm = procfs.cpu_s(self.jvm_pid) - self.jit.cpu_s()
        return jvm + t.user + t.system + procfs.python_workers_cpu_s(self.jvm_pid)

    def heap_live_mb(self) -> float:
        """Driver heap still in use after a full GC. Read once, after the
        passes: a full GC between passes shrinks the heap, and the G1
        marking cycles that follow made pass CPU time vary by half."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6

    def _query(self, name: str) -> dict:
        self.spark.catalog.clearCache()
        rec = {"query": name, "error": None, "build_s": 0.0, "exec_s": 0.0}
        c0 = self._cpu_s()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, cpu_s=self._cpu_s() - c0)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        return rec

    def _traced_query(self, name: str) -> dict:
        tr, sc = self.tracer, self.sc
        rec = {"query": name, "error": None, "build_s": 0.0, "exec_s": 0.0,
               "build_group": tr.new_group(), "exec_group": tr.new_group()}
        self.spark.catalog.clearCache()
        tr.query = name
        py0 = procfs.python_workers_cpu_s(self.jvm_pid)
        try:
            sc.setLocalProperty(tracing.JOB_GROUP, rec["build_group"])
            first_span = len(tr.spans)
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            cpu0 = procfs.cpu_s(self.jvm_pid)
            sc.setLocalProperty(tracing.JOB_GROUP, rec["exec_group"])
            t2 = time.perf_counter()
            _noop(df)
            t3 = time.perf_counter()
            cpu1 = procfs.cpu_s(self.jvm_pid)
            rec.update(build_s=t1 - t0, exec_s=t3 - t2, jvm_cpu_s=cpu1 - cpu0)
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            return rec
        finally:
            sc.setLocalProperty(tracing.JOB_GROUP, None)
            tr.query = None
        rec["plan"] = _plan_counts(df)
        rec["py_worker_cpu_s"] = procfs.python_workers_cpu_s(self.jvm_pid) - py0
        self.stages.settle()
        rec["build_jobs"] = self.stages.group(rec["build_group"])
        rec["exec_jobs"] = self.stages.group(rec["exec_group"])
        rec["span_ids"] = [sp.id for sp in tr.spans[first_span:]]
        for sp in tr.spans[first_span:]:
            self.span_jobs[sp.id] = self.stages.group(sp.group)
        return rec

    # -------------------------------------------------------------- metrics
    def end_to_end(self, passes: list[dict]) -> dict:
        k = self.host_scale()
        cpu = [q["cpu_s"] * k for p in passes for q in p["queries"] if not q["error"]]
        pass_cpu_s = _median([p["cpu_s"] for p in passes]) * k
        return {
            "setup_s": self.setup_cpu_s * k,
            "pass_cpu_s": pass_cpu_s,
            "query_cpu_p90_s": _p90(cpu),
            "rows_per_cpu_s": self.rows_per_pass / pass_cpu_s,
        }

    def wall(self, passes: list[dict]) -> dict:
        """The same figures in wall-clock time, and the share of the
        machine's CPU time stolen by other tenants during the passes."""
        lat = [q["build_s"] + q["exec_s"] for p in passes for q in p["queries"] if not q["error"]]
        pass_s = _median([p["wall_s"] for p in passes])
        return {
            "wall.setup_s": self.setup_wall_s,
            "wall.pass_s": pass_s,
            "wall.query_p50_s": _median(lat),
            "wall.query_p90_s": _p90(lat),
            "wall.rows_per_s": self.rows_per_pass / pass_s,
            "host.steal_frac": _median([p["steal_frac"] for p in passes]),
            "host.probe_cpu_s": _median(self.probes),
        }

    def per_layer(self, untraced: list[dict], traced: list[dict], failed_frac: float) -> tuple[dict, list[dict]]:
        """Per-layer values of each traced pass, and their medians."""
        spans = {sp.id: sp for sp in self.tracer.spans}
        children: dict[int, list[int]] = {}
        for sp in spans.values():
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp.id)

        def subtree_jobs(sid: int) -> int:
            return self.span_jobs.get(sid, {}).get("jobs", 0) + sum(subtree_jobs(c) for c in children.get(sid, []))

        def outermost(sp, pred) -> bool:
            p = sp.parent
            while p is not None:
                if pred(spans[p]):
                    return False
                p = spans[p].parent
            return pred(sp)

        per_pass = []
        for p in traced:
            qs = [q for q in p["queries"] if not q["error"]]
            ids = [sid for q in qs for sid in q["span_ids"] if sid in spans]
            ps = [spans[i] for i in ids]

            def layer_time_jobs(pred):
                tops = [sp for sp in ps if outermost(sp, pred)]
                return sum(sp.end - sp.start for sp in tops), sum(subtree_jobs(sp.id) for sp in tops), len(tops)

            def tot(key, phase):
                return sum(q[phase][key] for q in qs) + (
                    sum(self.span_jobs.get(i, {}).get(key, 0) for i in ids) if phase == "build_jobs" else 0)

            build_s = sum(q["build_s"] for q in qs)
            run_s = sum(q["exec_s"] for q in qs)
            jvm_cpu = sum(q["jvm_cpu_s"] for q in qs)
            load_s, schema_jobs, _ = layer_time_jobs(lambda s: s.layer == "readers")
            ml_s, ml_jobs, _ = layer_time_jobs(lambda s: s.layer == "ml")
            st_s, st_jobs, _ = layer_time_jobs(lambda s: s.layer == "stats")
            knn_s, knn_jobs, _ = layer_time_jobs(lambda s: s.layer == "operators" and "knn" in s.name)
            wr_s, _, wr_calls = layer_time_jobs(lambda s: s.layer == "writers")
            writers = [sp for sp in ps if sp.layer == "writers" and outermost(sp, lambda s: s.layer == "writers")]
            rows_read = tot("input_rows", "build_jobs") + tot("input_rows", "exec_jobs")
            rows_out = sum(self.rows_out.get(q["query"], 0) for q in qs)
            per_pass.append({
                "queries.build_s": build_s,
                "queries.build_jobs": tot("jobs", "build_jobs"),
                "queries.build_share": build_s / (build_s + run_s) if build_s + run_s else 0.0,
                "readers.load_calls": sum(sp.name == "readers.load_table" for sp in ps),
                "readers.load_s": load_s,
                "readers.schema_jobs": schema_jobs,
                "readers.input_mb": (tot("input_bytes", "build_jobs") + tot("input_bytes", "exec_jobs")) / 1e6,
                "readers.rows_read": rows_read,
                "readers.rows_read_per_row_out": rows_read / max(rows_out, 1),
                "exec.run_s": run_s,
                "exec.jobs": tot("jobs", "exec_jobs"),
                "exec.stages": tot("stages", "exec_jobs"),
                "exec.tasks": tot("tasks", "exec_jobs"),
                "exec.jvm_cpu_s": jvm_cpu,
                "exec.cpu_util": jvm_cpu / (run_s * NPROC) if run_s else 0.0,
                "exec.shuffle_write_mb": tot("shuffle_write", "exec_jobs") / 1e6,
                "exec.shuffle_read_mb": tot("shuffle_read", "exec_jobs") / 1e6,
                "exec.spill_mb": tot("spill", "exec_jobs") / 1e6,
                "exec.gc_s": tot("gc_ms", "exec_jobs") / 1e3,
                "exec.failed_tasks": tot("failed_tasks", "build_jobs") + tot("failed_tasks", "exec_jobs"),
                "plan.exchanges": sum(q["plan"]["exchanges"] for q in qs),
                "plan.broadcast_joins": sum(q["plan"]["broadcast_joins"] for q in qs),
                "plan.sort_merge_joins": sum(q["plan"]["sort_merge_joins"] for q in qs),
                "functions.py_udf_nodes": sum(q["plan"]["py_udf_nodes"] for q in qs),
                "functions.py_worker_cpu_s": sum(q["py_worker_cpu_s"] for q in qs),
                "ml.fit_s": ml_s,
                "ml.fit_jobs": ml_jobs,
                "ml.s_per_job": ml_s / ml_jobs if ml_jobs else 0.0,
                "stats.s": st_s,
                "stats.jobs": st_jobs,
                "joins.knn_s": knn_s,
                "joins.knn_jobs": knn_jobs,
                "writers.calls": wr_calls,
                "writers.write_s": wr_s,
                "writers.files_written": sum(sp.files_written for sp in writers),
                "writers.bytes_written_mb": sum(sp.bytes_written for sp in writers) / 1e6,
            })
        out = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]} if per_pass else {}
        out.update(self.setup_times)
        out.update(self.wall(untraced))
        out["query_cpu_p50_s"] = self.host_scale() * _median(
            [q["cpu_s"] for p in untraced for q in p["queries"] if not q["error"]])
        out["trace.overhead_s"] = _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in untraced])
        out["failed_frac"] = failed_frac
        out["jvm_rss_peak_mb"] = procfs.rss_peak_mb(self.jvm_pid)
        out["jvm.heap_live_mb"] = self.heap_live_mb()
        return out, per_pass

    def self_times(self) -> dict[str, float]:
        """Per-layer self time over the traced passes: span time minus the
        time of its child spans."""
        child_s: dict[int, float] = {}
        for sp in self.tracer.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.tracer.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - child_s.get(sp.id, 0.0)
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float)
    args = ap.parse_args(argv)

    b = Bench(args)
    b.setup()
    untraced, traced = b.run_passes(args.seconds)
    b.contended |= procfs.foreign_spark_jvms() > 0

    timed = [q for p in untraced + traced for q in p["queries"]]
    errors = [f"{q['query']}: {q['error']}" for q in timed if q["error"]]
    attempted = len(timed) + len(b.names)
    failed = len(errors) + len(b.gate_failures)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "contended": b.contended, "nproc": NPROC, "sf": b.sf, "table_rows": b.table_rows,
        "setup_times_s": b.setup_times, "gate_s": b.gate_s, "gate_query_s": b.gate_query_s,
        "wall": b.wall(untraced), "jvm_rss_peak_mb": procfs.rss_peak_mb(b.jvm_pid),
        "passes": len(untraced), "query_samples": sum(len(p["queries"]) for p in untraced),
        "gate_failures": b.gate_failures, "errors": errors,
        "pass_walls_s": [p["wall_s"] for p in untraced], "pass_cpu_s": [p["cpu_s"] for p in untraced],
        "pass_steal_frac": [p["steal_frac"] for p in untraced],
        "setup_cpu_s": b.setup_cpu_s, "probe_cpu_s": b.probes,
        "queries": [q for p in untraced for q in p["queries"]],
    }
    if args.trace:
        metrics, per_pass = b.per_layer(untraced, traced, failed / attempted)
        detail.update(
            per_pass=per_pass, traced_pass_walls_s=[p["wall_s"] for p in traced],
            layer_self_s=b.self_times(), profiled_load_calls=b.profiled_loads,
            rows_out=b.rows_out, wrapped=b.wrapped, traced_queries=[q for p in traced for q in p["queries"]],
            spans=[vars(sp) for sp in b.tracer.spans],
        )
    else:
        metrics = b.end_to_end(untraced)
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: (metrics[k], u) for k, u in units.items()}
    b.spark.stop()

    os.makedirs(args.out, exist_ok=True)
    detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    path = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)

    for e in b.gate_failures + errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(
        f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
        f"contended={str(b.contended).lower()} passes={len(untraced)} "
        f"query_samples={detail['query_samples']} detail={os.path.relpath(path, ROOT)}"
    )
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    if not args.trace:
        print("  (wall clock: " + ", ".join(f"{k} = {v:.4g}" for k, v in detail["wall"].items()) + ")")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
