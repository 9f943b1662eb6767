"""Closed-loop benchmark of the engine: one driver process on
``local[$(nproc)]``, one client, each item issued only after the previous
one returned.

    python3 perfbench/run.py --workload tpch_sf01 --seed 1 --seconds 1 --trace 0

A run sets up (session, registry import, warm-up), makes a cold pass over
the workload's items and the measured warm passes, each in a seed-permuted
order, checks every output, and prints one JSON line last: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything it writes stays under
``.bench_build/perfbench`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import datagen
import tracing
import workloads
from workloads import JOB_OUTPUTS, registry_name

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pyspark_bigdata_sars_cov_2_analysis_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# committed copies of the repository's test tables (TESTDATA.md)
DATA = os.path.join(HERE, "data")
SCALES = {"full": "sf0.01", "smoke": "sf0.001"}
# warm passes per run, at least: a fixed count keeps every run on the same
# JIT warm-up trajectory (each pass is 10-20% cheaper than the one before);
# more passes follow only to fill --seconds. An item's warm cost is its
# least-disturbed execution (the minimum over the passes): the host's
# contention often comes in bursts of seconds that inflate single executions.
WARM_PASSES = 4
# a traced run alternates traced, untraced, traced passes, so the tracing
# overhead (traced minus untraced) is not biased by that drift
TRACED_WARM_PASSES = 3
WARMUP_QUERY = "q6"
# the driver JVM's heap (the package's SPARK_GRAFT_DRIVER_MEM knob), set
# whatever the caller's environment holds. At the package's 8g default the
# JVM grows its heap as far as garbage collection falls behind on a contended
# host, and peak RSS spread too widely to bound (README.md); 2g is bounded
# and ample for these inputs.
DRIVER_MEM = "2g"

E2E_UNITS = {
    "setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s",
    "item_cpu_geomean_s": "s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "plans.import_s": "s",
    "plans.construct_s": "s", "plans.table_calls": "count", "plans.table_s": "s",
    "catalyst.plan_s": "s", "exec.action_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.scheduler_delay_s": "s",
    "exec.empty_task_ratio": "ratio", "exec.task_parallelism": "ratio",
    "shuffle.exchanges": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "broadcast.count": "count",
    "broadcast.bytes": "bytes", "spill.memory_bytes": "bytes",
    "spill.disk_bytes": "bytes", "io.scan_bytes": "bytes", "io.scan_rows": "count",
    "io.read_s": "s", "io.write_s": "s", "io.write_files": "count",
    "io.write_bytes": "bytes", "io.commit_s": "s", "io.stored_bytes_ratio": "ratio",
    "udf.python_s": "s", "udf.python_bytes": "bytes", "llmdata.dedup_s": "s",
    "llmdata.ingest_s": "s", "llmdata.ingest_batches": "count",
    "llmdata.state_bytes": "bytes", "pipelines.extract_s": "s",
    "pipelines.prepare_s": "s", "pipelines.outputs_s": "s",
    "pipelines.write_s": "s", "ml.train_s": "s", "ml.eval_s": "s",
    "timeseries.forecast_s": "s", "streaming.batches": "count",
    "streaming.rows": "count", "streaming.batch_s": "s",
    "jvm.jit_cpu_s": "s", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process was started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def steal_s() -> float:
    """Host-wide CPU time stolen from this VM so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU time (user + system) of this process and all its descendants —
    the JVM, the Python worker daemon and its workers — split into the
    JVM's JIT compiler threads and everything else (``work``).

    Background compilation trails execution by however much CPU the host
    leaves it, so it is kept out of the work figure and reported apart.
    Process totals include exited threads; the JVM may retire compiler
    threads, so each one's last reading is remembered."""

    def __init__(self) -> None:
        self.tick = os.sysconf("SC_CLK_TCK")
        self.jit: dict[str, int] = {}  # "pid/tid" -> last CPU ticks seen

    def read(self) -> tuple[float, float]:
        """``(work, jit)`` seconds so far."""
        children: dict[str, list[str]] = {}
        comm: dict[str, str] = {}
        times: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                comm[pid], times[pid] = _proc_stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            children.setdefault(times[pid][1], []).append(pid)
        total = 0
        frontier = [str(os.getpid())]
        while frontier:
            pid = frontier.pop()
            frontier.extend(children.get(pid, []))
            t = times.get(pid)
            if t is None:
                continue
            total += sum(int(x) for x in t[11:15])  # own and reaped children
            if comm[pid] != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    name, tt = _proc_stat(f"/proc/{pid}/task/{tid}/stat")
                except OSError:
                    continue
                if name.startswith(JIT_THREADS):
                    self.jit[f"{pid}/{tid}"] = int(tt[11]) + int(tt[12])
        jit = sum(self.jit.values())
        return (total - jit) / self.tick, jit / self.tick


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def canary() -> float:
    """A fixed, repo-independent CPU task; its time tracks host speed."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for _ in range(48):
        h.update(block)
    s = 0
    for i in range(300_000):
        s += i * i % 7
    return time.perf_counter() - t


def tail(samples: list[float]) -> tuple[int | None, float | None, int]:
    """Highest whole percentile with at least 10 samples above it:
    ``(percentile, value, samples_beyond)``; ``(None, None, 0)`` when the run
    has too few samples for any."""
    xs = sorted(samples)
    for p in range(99, 0, -1):
        v = xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]
        beyond = sum(1 for x in xs if x > v)
        if beyond >= 10:
            return p, v, beyond
    return None, None, 0


class Bench:
    """One run: set-up, passes, checks and metrics for one workload."""

    def __init__(self, args, workload, run_dir: str, cpus: int):
        self.a = args
        self.wl = workload
        self.run_dir = run_dir
        self.cpus = cpus
        self.dataset = SCALES[args.scale]
        self.data_dir = os.path.join(DATA, self.dataset)
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.setup: dict = {}
        self.records: list[dict] = []  # one per item execution
        self.failures: list[str] = []
        self.canary: dict[str, float] = {}
        self.tracer = tracing.Tracer()
        self.cpu = CpuMeter()
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f).get(self.dataset, {})

    # --- session -----------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        if self.trace:
            os.makedirs(os.path.join(self.run_dir, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def set_up(self) -> None:
        """Start the session, import the registry and warm up. Its CPU and
        wall time count from process start: interpreter, imports and the
        JVM launch included."""
        t0 = time.perf_counter()
        pkg = importlib.import_module(PKG)
        self.spark = pkg.start_session("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.plans = importlib.import_module(PKG + ".plans")
        t2 = time.perf_counter()
        self.warm_up()
        t3 = time.perf_counter()
        self.setup = {"start_s": t1 - t0, "import_s": t2 - t1, "warmup_s": t3 - t2,
                      "wall_s": process_age_s(), "cpu_s": self.cpu.read()[0]}

    def warm_up(self) -> None:
        q = self.plans.QUERIES[registry_name(self.plans, WARMUP_QUERY)]
        q(self.spark, self.data_dir).collect()
        self.release()

    def release(self) -> None:
        self.spark.catalog.clearCache()
        self.plans.registry.release_plan_caches()

    # --- items -------------------------------------------------------------

    def run_item(self, item: str, pass_no: int, traced: bool) -> dict:
        exec_id = f"p{pass_no}-{item}"
        scratch = os.path.join(self.run_dir, "tmp", exec_id)
        os.makedirs(scratch, exist_ok=True)
        tempfile.tempdir = scratch
        if self.trace:
            self.spark.sparkContext.setLocalProperty(tracing.EXEC_PROP, exec_id)
            self.tracer.exec_id = exec_id
        rec = {"exec": exec_id, "item": item, "pass": pass_no, "traced": traced,
               "ok": False}
        span = self.tracer.span
        df = written = None
        c0, j0 = self.cpu.read()
        st0 = steal_s()
        self.tracer.active = traced
        t0 = time.perf_counter()
        try:
            with span("item", item):
                if item not in JOB_OUTPUTS:
                    fn = self.plans.QUERIES[registry_name(self.plans, item)]
                    with span("plans.construct", item):
                        df = fn(self.spark, self.data_dir)
                    with span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with span("exec.action"):
                        rows = df.collect()
                else:
                    job = importlib.import_module(f"{PKG}.pipelines.{item}")
                    written = job.run_job(self.spark, self.etl[item],
                                          os.path.join(scratch, "out"))
            self.tracer.active = False
            self.stop_clock(rec, t0, c0, j0, st0)
            if df is not None:
                if traced:
                    rec["plan"] = tracing.plan_metrics(df._jdf)
                rec["rows"] = len(rows)
                rec["digest"] = workloads.digest(list(df.columns), [tuple(r) for r in rows])
                err = workloads.check_query(self.expected.get(item), item, rec["rows"],
                                  rec["digest"])
            else:
                err = workloads.check_job(item, written, os.path.join(scratch, "out"),
                                self.etl)
            rec["ok"] = err is None
            if err:
                rec["error"] = err
        except Exception as e:  # an item failure is counted, never dropped
            log(traceback.format_exc())
            if "latency_s" not in rec:
                self.stop_clock(rec, t0, c0, j0, st0)
            rec["error"] = f"{item}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            self.tracer.active = False
            self.tracer.exec_id = None
            tempfile.tempdir = os.path.join(self.run_dir, "tmp")
            try:
                self.release()
            except Exception as e:
                rec.setdefault("error", f"{item}: release failed: {e}")
                rec["ok"] = False
            rec["stored_bytes"] = dir_bytes(scratch)
            shutil.rmtree(scratch, ignore_errors=True)
        if not rec["ok"]:
            self.failures.append(rec["error"])
            log(rec["error"])
        self.records.append(rec)
        return rec

    def stop_clock(self, rec: dict, t0: float, c0: float, j0: float, st0: float) -> None:
        """Close an item's timed region; the checks and clean-up after it
        are not part of any figure."""
        rec["latency_s"] = time.perf_counter() - t0
        c1, j1 = self.cpu.read()
        rec["cpu_s"], rec["jit_cpu_s"] = c1 - c0, j1 - j0
        rec["steal_s"] = steal_s() - st0

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        """One pass over the items; its figures are the sums of the items'
        timed regions."""
        order = self.rng.sample(list(self.wl.items), len(self.wl.items))
        recs = [self.run_item(item, pass_no, traced) for item in order]
        return {"pass": pass_no, "traced": traced, "order": order,
                **{k: sum(r[k] for r in recs)
                   for k in ("latency_s", "cpu_s", "jit_cpu_s", "steal_s")}}

    # --- the run -----------------------------------------------------------

    def run(self) -> dict:
        self.set_up()
        self.etl = {}
        if any(i in JOB_OUTPUTS for i in self.wl.items):
            self.etl = datagen.write_etl_inputs(
                os.path.join(self.run_dir, "inputs"), self.a.seed)
        if self.trace:
            for item in self.wl.items:  # job modules are imported lazily
                if item in JOB_OUTPUTS:
                    importlib.import_module(f"{PKG}.pipelines.{item}")
            tracing.install(self.tracer)
            self.stream_totals = tracing.add_stream_listener(self.spark, self.tracer)
        canary()  # warm the canary once; its first run is not representative
        self.canary["before"] = canary()
        passes = [self.run_pass(0, traced=False)]
        self.canary["during"] = canary()
        want = TRACED_WARM_PASSES if self.trace else WARM_PASSES
        t_meas = time.perf_counter()
        while True:
            n = len(passes)
            passes.append(self.run_pass(n, traced=self.trace and n % 2 == 1))
            if (len(passes) - 1 >= want
                    and time.perf_counter() - t_meas >= self.a.seconds):
                break
        self.measured_s = time.perf_counter() - t_meas
        self.canary["after"] = canary()
        self.passes = passes
        self.peak_rss_mb = self.rss_mb()
        return self.result()

    def rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = vm_hwm_kb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            kb += vm_hwm_kb(proc.pid)
        return kb / 1024.0

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        except Exception:
            pass
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()

    # --- metrics -----------------------------------------------------------

    def result(self) -> dict:
        warm = [p for p in self.passes[1:] if not p["traced"]]
        warm_ids = {p["pass"] for p in warm}
        ok_warm = [r for r in self.records if r["pass"] in warm_ids and r["ok"]]
        lat = [r["latency_s"] for r in ok_warm]
        per_item: dict[str, list[dict]] = {}
        for r in ok_warm:
            per_item.setdefault(r["item"], []).append(r)

        # each item's warm cost: its least-disturbed execution (see WARM_PASSES)
        best = {key: {k: min(r[key] for r in rs) for k, rs in per_item.items()}
                for key in ("cpu_s", "latency_s")}

        def geomean(xs):
            xs = list(xs)
            return math.exp(statistics.fmean(math.log(max(1e-6, x)) for x in xs)) if xs else 0.0

        pct, tail_v, beyond = tail(lat)
        attempted = len(self.records)
        failed = sum(1 for r in self.records if not r["ok"])
        e2e = {
            "setup_s": self.setup["cpu_s"],
            "cold_pass_cpu_s": self.passes[0]["cpu_s"],
            "pass_cpu_s": sum(best["cpu_s"].values()),
            "item_cpu_geomean_s": geomean(best["cpu_s"].values()),
            "peak_rss_mb": self.peak_rss_mb,
        }
        wall = {
            "cold_pass_s": self.passes[0]["latency_s"],
            "setup_s": self.setup["wall_s"],
            "pass_s": sum(best["latency_s"].values()),
            "latency_p50_s": statistics.median(lat) if lat else None,
            "item_geomean_s": geomean(best["latency_s"].values()),
            "latency_tail": {"value_s": tail_v, "percentile": pct,
                             "samples_beyond": beyond, "samples": len(lat)},
            "steal_s": sum(p["steal_s"] for p in self.passes),
        }
        medians = {k: statistics.median(r["latency_s"] for r in rs)
                   for k, rs in per_item.items()}
        inputs = self.input_bytes()
        stored = sum(r["stored_bytes"] for r in self.records if r["pass"] in warm_ids)
        detail = {
            "workload": self.wl.name, "seed": self.a.seed, "trace": int(self.trace),
            "data": self.dataset, "cpus": self.cpus, "host": self.host(),
            "canary_s": self.canary, "setup": self.setup, "wall": wall,
            "error_rate": failed / attempted,
            "stored_bytes_ratio": stored / len(warm) / inputs if inputs else 0.0,
            "warm_passes": len(warm), "measured_s": self.measured_s,
            "passes": self.passes, "item_median_s": medians,
            "latencies": [(r["pass"], r["item"], r["latency_s"], r["cpu_s"],
                           r["steal_s"]) for r in self.records],
            "failures": self.failures[:20],
        }
        if self.trace:
            layer = self.layer_metrics(inputs)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        detail["metrics"] = {k: v["value"] for k, v in metrics.items()}
        return {"detail": detail,
                "result": {"correct": failed == 0, "attempted": attempted,
                           "failed": failed, "metrics": metrics}}

    def input_bytes(self) -> int:
        return dir_bytes(os.path.join(self.run_dir, "inputs")) + sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in self.wl.inputs)

    def host(self) -> dict:
        import platform

        import pyspark

        sc = self.spark.sparkContext
        return {
            "cpus": self.cpus, "master": sc.master,
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "machine": platform.machine(),
        }

    def layer_metrics(self, inputs: int) -> dict:
        traced = [p for p in self.passes[1:] if p["traced"]]
        untraced = [p for p in self.passes[1:] if not p["traced"]]
        ids = {p["pass"] for p in traced}
        n = len(traced)
        execs = {r["exec"] for r in self.records if r["pass"] in ids}
        spans = [s for s in self.tracer.self_times() if s["exec"] in execs]
        by_id = {s["id"]: s for s in spans}

        def self_sum(name):
            return sum(s["self"] for s in spans if s["name"] == name) / n

        def dur_sum(name):
            return sum(s["dur"] for s in spans if s["name"] == name) / n

        def under(s, name):
            p = s["parent"]
            while p is not None and p in by_id:
                if by_id[p]["name"] == name:
                    return True
                p = by_id[p]["parent"]
            return False

        ev = tracing.read_event_log(os.path.join(self.run_dir, "eventlog"))
        evs = [v for k, v in ev.items() if k in execs]

        def ev_sum(key, scale=1.0):
            return sum(v.get(key, 0.0) for v in evs) * scale / n

        plan = [r["plan"] for r in self.records if r["pass"] in ids and "plan" in r]
        stream = [v for k, v in self.stream_totals.items() if k in execs]
        recs = [r for r in self.records if r["pass"] in ids]
        tasks = ev_sum("tasks")
        m = {
            "session.start_s": self.setup["start_s"],
            "session.warmup_s": self.setup["warmup_s"],
            "plans.import_s": self.setup["import_s"],
            "plans.construct_s": self_sum("plans.construct"),
            "plans.table_calls": sum(1 for s in spans if s["name"] == "plans.table") / n,
            "plans.table_s": dur_sum("plans.table"),
            "catalyst.plan_s": dur_sum("catalyst.plan"),
            "exec.action_s": self_sum("exec.action"),
            "exec.jobs": ev_sum("jobs"), "exec.stages": ev_sum("stages"),
            "exec.tasks": tasks,
            "exec.task_run_s": ev_sum("task_run_ms", 1e-3),
            "exec.task_cpu_s": ev_sum("task_cpu_ns", 1e-9),
            "exec.gc_s": ev_sum("gc_ms", 1e-3),
            "exec.scheduler_delay_s": ev_sum("sched_ms", 1e-3),
            "exec.empty_task_ratio": ev_sum("empty_tasks") / tasks if tasks else 0.0,
            # task-seconds per second of item latency: the mean number of busy
            # task slots, which drops when work collapses onto fewer cores
            "exec.task_parallelism": ev_sum("task_run_ms", 1e-3)
            / (sum(p["latency_s"] for p in traced) / n),
            "shuffle.exchanges": sum(p["exchanges"] for p in plan) / n,
            "shuffle.write_bytes": ev_sum("shuffle_write_bytes"),
            "shuffle.read_bytes": ev_sum("shuffle_read_bytes"),
            "shuffle.fetch_wait_s": ev_sum("fetch_wait_ms", 1e-3),
            "broadcast.count": sum(p["broadcasts"] for p in plan) / n,
            "broadcast.bytes": sum(p["broadcast_bytes"] for p in plan) / n,
            "spill.memory_bytes": ev_sum("spill_mem"),
            "spill.disk_bytes": ev_sum("spill_disk"),
            "io.scan_bytes": ev_sum("scan_bytes"),
            "io.scan_rows": ev_sum("scan_rows"),
            "io.read_s": self_sum("io.read"),
            "io.write_s": self_sum("io.write"),
            "io.write_files": ev_sum("write_files"),
            "io.write_bytes": ev_sum("write_bytes"),
            "io.commit_s": self_sum("io.commit"),
            "io.stored_bytes_ratio": (sum(r["stored_bytes"] for r in recs) / n / inputs)
            if inputs else 0.0,
            "udf.python_s": sum(p["python_ms"] for p in plan) / 1e3 / n,
            "udf.python_bytes": sum(p["python_bytes"] for p in plan) / n,
            "llmdata.dedup_s": self_sum("llmdata.dedup"),
            "llmdata.ingest_s": self_sum("llmdata.ingest"),
            "llmdata.ingest_batches": sum(
                1 for s in spans
                if s["name"] == "llmdata.ingest" and "batch" in s["fn"]) / n,
            "llmdata.state_bytes": (sum(r["stored_bytes"] for r in recs) / n)
            if self.wl.stateful else 0.0,
            "pipelines.extract_s": self_sum("pipelines.extract"),
            "pipelines.prepare_s": self_sum("pipelines.prepare"),
            "pipelines.outputs_s": self_sum("pipelines.outputs"),
            "pipelines.write_s": sum(
                s["dur"] for s in spans
                if s["name"] == "io.write" and under(s, "pipelines.run_job")) / n,
            "ml.train_s": self_sum("ml.train"),
            "ml.eval_s": self_sum("ml.eval"),
            "timeseries.forecast_s": self_sum("timeseries.forecast"),
            "streaming.batches": sum(v["batches"] for v in stream) / n,
            "streaming.rows": sum(v["rows"] for v in stream) / n,
            "streaming.batch_s": sum(v["batch_ms"] for v in stream) / 1e3 / n,
            "jvm.jit_cpu_s": sum(p["jit_cpu_s"] for p in traced) / n,
            "trace.overhead_s": (
                statistics.median(p["latency_s"] for p in traced)
                - statistics.median(p["latency_s"] for p in untraced)),
        }
        self.export_trace(spans, ev, m)
        return m

    def export_trace(self, spans: list[dict], ev: dict, layer: dict) -> None:
        """Write the span file and the per-item table next to the run."""
        out = os.path.join(WORK, "trace", f"{self.wl.name}-s{self.a.seed}")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        cols = ["exec", "item", "latency_s", "jobs", "stages", "tasks",
                "task_run_ms", "shuffle_write_bytes", "scan_bytes", "exchanges",
                "broadcasts", "broadcast_bytes", "broadcast_sizes", "python_ms"]
        with open(os.path.join(out, "items.tsv"), "w") as f:
            f.write("\t".join(cols) + "\n")
            for r in self.records:
                if "plan" not in r:
                    continue
                row = {**ev.get(r["exec"], {}), **r["plan"], **r}
                f.write("\t".join(str(row.get(c, "")) for c in cols) + "\n")
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(layer, f, indent=1, sort_keys=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"the package {PKG} is not in {ROOT}; nothing to measure")
        return 2

    if a.workload not in workloads.WORKLOADS:
        log(f"unknown workload {a.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # every process the run starts (JVM, Python workers) inherits these:
    # scratch space inside the checkout and the package importable from any cwd
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # both JVMs spark-submit starts (launcher and driver): temp files inside
    # the run directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)

    bench = Bench(a, workloads.WORKLOADS[a.workload], run_dir, cpus)
    try:
        out = bench.run()
    finally:
        bench.shutdown()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(out["detail"], f, indent=1, sort_keys=True, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    d = out["detail"]
    print("perfbench: " + json.dumps({
        k: d[k] for k in ("workload", "seed", "cpus", "host", "canary_s",
                          "setup", "wall", "error_rate",
                          "stored_bytes_ratio", "warm_passes", "item_median_s",
                          "failures")}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
