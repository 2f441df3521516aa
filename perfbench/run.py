#!/usr/bin/env python3
"""Benchmark command: one closed-loop client driving the query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process runs one query at
a time on ``local[nproc]`` over fixtures generated into ``.perfbench/``
(see ``datagen.py``). Each query call is ``spec.fn(spark, data_dir)``
(build) followed by a ``noop`` write (execute), the sink ``bench.py``
uses. A run is:

1. set-up, three times: session start, a fresh import of the query
   registry, warm-up query (``tpch_q6``). The first set-up also launches
   the JVM and is reported on its own as the cold set-up; the session
   is stopped between set-ups;
2. the cold first pass over the workload's queries;
3. the output check, once and untimed: DuckDB parity for every
   oracle-bearing query, row count plus canonical-row hash
   (``expected.json``) for the rest;
4. warm passes: ``--seconds`` divided by the workload's nominal pass
   time, at least two.

The seed permutes the query order of every pass. After each query the
benchmark counts the RDDs still persisted, then clears the cache with
Spark's public API, so no query inherits another's blocks.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` Spark's event-log writer is attached for the set-ups,
the first pass, the check and half of the warm passes; jobs are
attributed to the benchmark's spans by submission time and the last
line carries the per-layer metrics, plus the tracing overhead: traced
minus untraced warm passes of the same session. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from spans import TASK_FIELDS, EventLog, Tracer, covered_ms, read_event_logs  # noqa: E402

# name -> (queries, nominal warm-pass seconds on a 4-core host). The
# number of warm passes is --seconds / nominal, fixed per workload, so
# every run measures the same stretch of the JVM's warm-up curve.
WORKLOADS = {
    "iterative": (["graph_sssp_weighted", "graph_connected_components"], 4.0),
    "llm_dedup": (["dedup_minhash_widevocab", "sim_threshold_join_lsh"], 4.0),
}
WARMUP_QUERY = "tpch_q6"
SETUPS = 3
# Every set-up re-imports the package's modules so that registry.load_s
# is a real import, except these two: they hold the state the others
# attach to.
_KEEP_MODULES = ("big_data_analysis_spark.registry", "big_data_analysis_spark.session")
MIN_WARM_PASSES = 2
DRIVER_MEM = "2g"
DEADLINE_S = 170  # the whole run, set-up and check included
MB = 1024.0 * 1024.0
LAYER_UNITS = {
    "pass_cpu_s": "s",
    "jvm.jit_s": "s", "jvm.heap_peak_mb": "MB",
    "session.start_s": "s", "session.cold_start_s": "s",
    "warmup.s": "s", "registry.load_s": "s",
    "build.s": "s", "build.jobs": "count", "build.driver_s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.driver_s": "s",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.cpu_ratio": "ratio",
    "spark.task_deser_s": "s", "spark.gc_s": "s", "spark.slot_util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "spill.mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "count",
    "cache.rdds_left": "count", "cache.mem_mb": "MB",
    "check.queries": "count", "check.failed": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


class RunTimeout(Exception):
    pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _proc_cpu_s(pid) -> float:
    """User plus system CPU seconds of a process, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """Host-wide stolen and total CPU ticks, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time between two readings that the hypervisor
    gave to other guests: host contention, which slows every timing."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total else 0.0


def _loadavg() -> float:
    return os.getloadavg()[0]


def _calibrate() -> float:
    """Median seconds of a fixed single-threaded CPU loop: the host's
    speed at the time, kept in the record beside the measured times."""
    def loop():
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        return time.perf_counter() - t
    return statistics.median(loop() for _ in range(5))


def load_registry() -> dict:
    """Import every query module afresh and return the registry."""
    from big_data_analysis_spark import registry

    for mod in [m for m in sys.modules
                if m.startswith("big_data_analysis_spark.") and m not in _KEEP_MODULES]:
        del sys.modules[mod]
    registry.REGISTRY.clear()
    return registry.load_all()


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.queries, self.nominal_pass_s = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tr = Tracer()
        self.work = os.path.join(root, ".perfbench")
        self.run_dir = tempfile.mkdtemp(
            prefix=f"run-{args.workload}-", dir=self._mkdir(self.work, "runs")
        )
        self.data_dir = datagen.ensure(os.path.join(self.work, "data"))
        self.log_dir = self._mkdir(self.run_dir, "eventlog")
        self.spark = None
        self.jvm_pid = None
        self.elog = None
        self.reg = None
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {}

    @staticmethod
    def _mkdir(*parts) -> str:
        path = os.path.join(*parts)
        os.makedirs(path, exist_ok=True)
        return path

    # -- process environment ----------------------------------------------

    def configure_env(self) -> None:
        """Everything Spark and the engine write goes under run_dir."""
        nproc = len(os.sched_getaffinity(0))
        tmp = self._mkdir(self.run_dir, "tmp")
        self.record.update(
            nproc=nproc,
            spark_graft_cpus_env=os.environ.get("SPARK_GRAFT_CPUS"),
            spark_graft_cpus=str(nproc),
            spark_driver_mem_env=os.environ.get("SPARK_DRIVER_MEM"),
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
        # The engine's documented heap override. Its default (16g) lets
        # G1 grow the heap to 1.5-5 GB at random on a small host.
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = self._mkdir(self.run_dir, "local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # No JVM flag beyond scratch paths: JIT and GC keep their defaults.
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
            ["--driver-java-options", java_opts, "pyspark-shell"]
        )
        # the launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    # -- engine calls -------------------------------------------------------

    def setup(self, k: int) -> dict:
        from big_data_analysis_spark.session import get_spark

        with self.tr.span("setup", k=k) as whole:
            with self.tr.span("session.start") as s_start:
                self.spark = get_spark("perfbench")
                self.jvm_pid = self.spark.sparkContext._jvm.java.lang \
                    .ProcessHandle.current().pid()
            if self.args.trace:
                self.elog = EventLog(self.spark, self.log_dir)
                self.elog.attach()
            with self.tr.span("registry.load") as s_reg:
                self.reg = load_registry()
            with self.tr.span("warmup") as s_warm:
                with self.tr.span("query", query=WARMUP_QUERY):
                    self.reg[WARMUP_QUERY].fn(self.spark, self.data_dir) \
                        .write.format("noop").mode("overwrite").save()
            self.release()
        return {
            "setup_s": whole.seconds, "session.start_s": s_start.seconds,
            "registry.load_s": s_reg.seconds, "warmup.s": s_warm.seconds,
        }

    def release(self) -> tuple[int, float]:
        """Count what the last query left persisted, then clear it."""
        sc = self.spark.sparkContext
        left = sc._jsc.getPersistentRDDs()
        mem = sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo())
        self.spark.catalog.clearCache()
        for jrdd in left.values():
            jrdd.unpersist(True)
        return len(left), mem / MB

    def run_query(self, name: str) -> dict:
        spec = self.reg[name]
        self.attempted += 1
        out = {"name": name, "ok": False}
        with self.tr.span("query", query=name) as q:
            try:
                with self.tr.span("build") as out["build"]:
                    df = spec.fn(self.spark, self.data_dir)
                with self.tr.span("execute") as out["execute"]:
                    df.write.format("noop").mode("overwrite").save()
                out["ok"] = True
            except Exception:  # noqa: BLE001 -- count it, keep measuring
                self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                traceback.print_exc(file=sys.stderr)
        out["seconds"] = q.seconds
        out["rdds_left"], out["mem_mb"] = self.release()
        q.attrs.update(rdds_left=out["rdds_left"], mem_mb=out["mem_mb"])
        return out

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        order = self.rng.sample(self.queries, len(self.queries))
        if self.elog is not None and traced:
            self.elog.attach()
        elif self.elog is not None:
            self.elog.detach()
        cpu0, gc0, jit0, ticks0 = self.cpu_s(), *self.jvm_gc_jit_s(), _cpu_ticks()
        with self.tr.span("pass", kind=kind, traced=traced, order=order) as p:
            results = [self.run_query(n) for n in order]
        gc1, jit1 = self.jvm_gc_jit_s()
        return {
            "kind": kind, "traced": traced, "span": p, "results": results,
            "seconds": sum(r["seconds"] for r in results),
            "cpu_s": self.cpu_s() - cpu0, "gc_s": gc1 - gc0, "jit_s": jit1 - jit0,
            "steal_share": _steal_share(ticks0, _cpu_ticks()),
            "jvm_hwm_mb": _vm_hwm_kb(self.jvm_pid) / 1024.0,
        }

    def warm_passes(self) -> list[dict]:
        """A fixed number of warm passes. When tracing, they alternate
        traced / untraced in the order T U U T, so a drift along the
        JVM's warm-up curve favours neither side."""
        n = max(MIN_WARM_PASSES, round(self.args.seconds / self.nominal_pass_s))
        return [
            self.run_pass("warm", traced=bool(self.args.trace) and i % 4 in (0, 3))
            for i in range(n)
        ]

    def check(self) -> tuple[int, int]:
        """Output check: DuckDB parity or the recorded row hash."""
        from big_data_analysis_spark.parity import (
            canonical_rows, compare_query, duck_connect,
        )

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        if self.elog is not None:
            self.elog.attach()
        con = duck_connect(self.data_dir)
        bad = 0
        try:
            with self.tr.span("check"):
                for name in sorted(self.queries):
                    spec = self.reg[name]
                    self.attempted += 1
                    with self.tr.span("query", query=name):
                        try:
                            if spec.oracle is not None:
                                rep = compare_query(self.spark, con, spec, self.data_dir)
                                ok, detail = rep.ok, rep.detail
                            else:
                                pdf = spec.fn(self.spark, self.data_dir).toPandas()
                                pdf.columns = [c.lower() for c in pdf.columns]
                                got = {
                                    "rows": len(pdf),
                                    "sha256": hashlib.sha256(
                                        repr(canonical_rows(pdf)).encode()
                                    ).hexdigest(),
                                }
                                want = expected["queries"].get(name)
                                ok = (expected["data"] == json.loads(datagen.stamp())
                                      and got == want)
                                detail = f"got {got}, expected {want}"
                        except Exception:  # noqa: BLE001
                            ok, detail = False, traceback.format_exc(limit=3)
                    self.release()
                    if not ok:
                        bad += 1
                        self.failures.append(f"check {name}: {detail}")
                        print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        finally:
            con.close()
        return len(self.queries), bad

    def cpu_s(self) -> float:
        return _proc_cpu_s(self.jvm_pid) + _proc_cpu_s("self")

    def jvm_gc_jit_s(self) -> tuple[float, float]:
        """The driver JVM's cumulative GC and JIT-compilation seconds."""
        mgmt = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans())
        jit_ms = mgmt.getCompilationMXBean().getTotalCompilationTime()
        return gc_ms / 1000.0, jit_ms / 1000.0

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb("self")) / 1024.0

    def heap_peak_mb(self) -> float:
        """Sum of the peak usage of the driver JVM's heap pools."""
        mgmt = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(
            pool.getPeakUsage().getUsed() for pool in mgmt.getMemoryPoolMXBeans()
            if pool.getType().toString() == "Heap memory"
        ) / MB

    def stop_session(self) -> None:
        if self.elog is not None:
            self.elog.close()
            self.elog = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.jvm_pid = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)

    # -- the run --------------------------------------------------------------

    def run(self) -> dict:
        import pyspark

        a = self.args
        self.record.update(
            workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
            queries=self.queries, python=platform.python_version(),
            spark=pyspark.__version__, data=json.loads(datagen.stamp()),
            sf_nominal=datagen.ROWS["lineitem"] / 6_000_000,
            loadavg_start=_loadavg(), calib_s_start=_calibrate(),
        )
        ticks0 = _cpu_ticks()
        with self.tr.span("run", workload=a.workload, seed=a.seed):
            setups = []
            for k in range(SETUPS):
                self.stop_session()  # only the first set-up launches the JVM
                setups.append(self.setup(k))
            self.record["driver_mem"] = self.spark.conf.get("spark.driver.memory")
            first = self.run_pass("first", traced=bool(a.trace))
            # The check runs every query once more, untimed, while the
            # JIT is still compiling what the first pass ran.
            n_checked, n_bad = self.check()
            warm = self.warm_passes()
            rss = self.peak_rss_mb()
            heap = self.heap_peak_mb()
            self.record.update(rss_jvm_mb=_vm_hwm_kb(self.jvm_pid) / 1024.0,
                               rss_py_mb=_vm_hwm_kb("self") / 1024.0)
        self.shutdown()
        self.record.update(loadavg_end=_loadavg(), calib_s_end=_calibrate(),
                           steal_share=_steal_share(ticks0, _cpu_ticks()))

        timed = [p for p in warm if not p["traced"]]
        per_query = {
            n: [r["seconds"] for p in timed for r in p["results"]
                if r["name"] == n and r["ok"]]
            for n in self.queries
        }
        ok_times = [v for v in per_query.values() if v]
        geomean = math.exp(
            statistics.fmean(math.log(_median(v)) for v in ok_times)
        ) if ok_times else 0.0
        e2e = {
            "setup_s": (_median([s["setup_s"] for s in setups]), "s"),
            "cold_setup_s": (setups[0]["setup_s"], "s"),
            "first_pass_s": (first["seconds"], "s"),
            "pass_s": (_median([p["seconds"] for p in timed]), "s"),
            "query_geomean_s": (geomean, "s"),
            "peak_rss_mb": (rss, "MB"),
            "correct_rate": (1.0 - len(self.failures) / self.attempted, "ratio"),
        }
        self.record.update(
            samples={
                "setup_s": len(setups), "cold_setup_s": 1, "first_pass_s": 1,
                "pass_s": len(timed),
                "query_geomean_s": {n: len(v) for n, v in per_query.items()},
            },
            setups=setups,
            passes=[{k: v for k, v in p.items()
                     if k in ("kind", "seconds", "cpu_s", "gc_s", "jit_s",
                              "steal_share", "jvm_hwm_mb")}
                    for p in [first, *warm]],
            pass_cpu_s=_median([p["cpu_s"] for p in timed]),
            pass_jit_s=_median([p["jit_s"] for p in timed]),
            heap_peak_mb=heap,
            query_median_s={n: _median(v) for n, v in per_query.items()},
            end_to_end={k: v for k, (v, _) in e2e.items()},
            failures=self.failures,
        )
        if a.trace:
            metrics = self.layer_metrics(setups, warm, n_checked, n_bad)
        else:
            metrics = e2e
        self.tr.dump(
            os.path.join(self.work, "traces",
                         f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
            self.record,
        )
        print("record " + json.dumps(self.record))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, setups, warm, n_checked, n_bad) -> dict:
        self.record["unattributed_jobs"] = self.tr.attach_jobs(
            read_event_logs(self.log_dir)
        )
        cores = int(self.record["spark_graft_cpus"])

        def driver_s(spans) -> float:
            """Span wall time not covered by any Spark job."""
            return sum(
                s.seconds - covered_ms(s.jobs, s.start_ms, s.end_ms) / 1000.0
                for s in spans
            )

        def per_pass(p) -> dict:
            ok = [r for r in p["results"] if r["ok"]]
            builds = [r["build"] for r in ok]
            execs = [r["execute"] for r in ok]
            jobs = [j for s in builds + execs for j in s.jobs]
            tot = {k: sum(j[k] for j in jobs) for k in TASK_FIELDS + ("stages",)}
            wall = p["seconds"]
            return {
                "build.s": sum(s.seconds for s in builds),
                "build.jobs": sum(len(s.jobs) for s in builds),
                "build.driver_s": driver_s(builds),
                "execute.s": sum(s.seconds for s in execs),
                "execute.jobs": sum(len(s.jobs) for s in execs),
                "execute.driver_s": driver_s(execs),
                "spark.stages": tot["stages"],
                "spark.tasks": tot["tasks"],
                "spark.task_run_s": tot["run_ms"] / 1000.0,
                "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
                "spark.cpu_ratio": tot["cpu_ns"] / 1e6 / tot["run_ms"]
                if tot["run_ms"] else 0.0,
                "spark.task_deser_s": tot["deser_ms"] / 1000.0,
                "spark.gc_s": tot["gc_ms"] / 1000.0,
                "spark.slot_util": tot["task_ms"] / 1000.0 / (wall * cores)
                if wall else 0.0,
                "shuffle.write_mb": tot["shuffle_write_bytes"] / MB,
                "shuffle.read_mb": tot["shuffle_read_bytes"] / MB,
                "shuffle.records": tot["shuffle_records"],
                "spill.mb": tot["spill_bytes"] / MB,
                "scan.input_mb": tot["input_bytes"] / MB,
                "scan.input_rows": tot["input_rows"],
                "cache.rdds_left": sum(r["rdds_left"] for r in p["results"]),
                "cache.mem_mb": sum(r["mem_mb"] for r in p["results"]),
            }

        traced = [p for p in warm if p["traced"]]
        rows = [per_pass(p) for p in traced]
        traced_pass = _median([p["seconds"] for p in traced])
        out = {
            "pass_cpu_s": self.record["pass_cpu_s"],
            "jvm.jit_s": self.record["pass_jit_s"],
            "jvm.heap_peak_mb": self.record["heap_peak_mb"],
            "session.start_s": _median([s["session.start_s"] for s in setups]),
            "session.cold_start_s": setups[0]["session.start_s"],
            "warmup.s": _median([s["warmup.s"] for s in setups]),
            "registry.load_s": _median([s["registry.load_s"] for s in setups]),
        }
        out.update({k: _median([r[k] for r in rows]) for k in rows[0]})
        out.update({
            "check.queries": n_checked,
            "check.failed": n_bad,
            "trace.pass_s": traced_pass,
            "trace.overhead_s": traced_pass - self.record["end_to_end"]["pass_s"],
        })
        self.record["samples"]["per_layer_passes"] = len(rows)
        self.record["counts_that_vary"] = {
            "cache.rdds_left": "the ContextCleaner may unpersist an unreferenced "
            "checkpoint between a query's return and the count; it runs on JVM "
            "garbage collection, whose timing differs between runs",
        }
        return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "big_data_analysis_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(big_data_analysis_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    def on_alarm(signum, frame):
        raise RunTimeout(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    bench = Bench(args, root)
    try:
        bench.configure_env()
        result = bench.run()
    except Exception:  # noqa: BLE001 -- report, then exit non-zero without a result
        traceback.print_exc(file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
