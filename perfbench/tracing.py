"""Benchmark-side tracing: spans around the package's public layer
functions, Spark's event log, the final AQE plan's SQL metrics, and a
streaming progress listener.

Nothing here changes package code. ``install`` replaces module attributes
with thin wrappers in this process only; a wrapper records a span only while
its tracer's ``active`` is set, so the same process can run traced and
untraced passes back to back.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "pyspark_bigdata_sars_cov_2_analysis_spark"


class Tracer:
    """In-memory spans: ``(id, name, start, end, parent, exec_id, fn)``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.exec_id: str | None = None
        self.active = False

    @contextmanager
    def span(self, name: str, fn: str = ""):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "fn": fn, "exec": self.exec_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            yield
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span with ``dur`` and ``self`` (duration minus children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append(dict(s, dur=dur, self=dur - child[s["id"]]))
        return out


# (module suffix, function-name pattern, span name); first match wins
LAYER_RULES = [
    ("plans.registry", r"^table$", "plans.table"),
    ("io.readers", r".", "io.read"),
    ("io.writers", r"snapshot_publish|compact|vacuum|restore|clone|merge_upsert|"
                   r"delete_from|update_snapshot|recover", "io.commit"),
    ("io.writers", r"^(write|overwrite|streaming_snapshot_sink)", "io.write"),
    ("io.writers", r".", "io.read"),
    ("llmdata.dedup", r"ingest|high_water", "llmdata.ingest"),
    ("llmdata.dedup", r".", "llmdata.dedup"),
    ("pipelines.", r"^extract$", "pipelines.extract"),
    ("pipelines.", r"^prepare$", "pipelines.prepare"),
    ("pipelines.", r"^outputs$", "pipelines.outputs"),
    ("pipelines.", r"^run_job$", "pipelines.run_job"),
    ("ml.classify", r"^train", "ml.train"),
    ("ml.classify", r"^(evaluate|confusion)", "ml.eval"),
    ("timeseries.forecast", r".", "timeseries.forecast"),
]


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name, fn.__name__):
            return fn(*args, **kwargs)

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap every public function of the traced layer modules, rebinding it
    in every loaded package module that imported it by name."""
    mods = {n: m for n, m in list(sys.modules.items())
            if m is not None and n.startswith(PKG)}
    swaps: dict[int, object] = {}
    for mname, mod in mods.items():
        suffix = mname[len(PKG) + 1:]
        for attr, obj in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != mname or hasattr(obj, "evalType")
                    or hasattr(obj, "__perfbench_wrapped__")):
                continue
            for msuffix, pat, span in LAYER_RULES:
                if suffix.startswith(msuffix) and re.search(pat, attr):
                    swaps[id(obj)] = _wrap(tracer, obj, span)
                    break
    for mod in mods.values():
        for attr, obj in list(vars(mod).items()):
            w = swaps.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)


# --- final-plan SQL metrics ----------------------------------------------

PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                "FlatMapCoGroupsInPandas", "BatchEvalPython", "MapInArrow",
                "ArrowWindowPython", "AggregateInPandas")


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(jdf) -> dict:
    """Walk the executed (final AQE) plan of ``jdf``: exchanges, broadcasts
    with their sizes, and Python-worker time and bytes."""
    acc = {"exchanges": 0, "broadcasts": 0, "broadcast_bytes": 0,
           "broadcast_sizes": [], "python_ms": 0, "python_bytes": 0}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls == "ReusedExchangeExec":
            return
        if cls == "ShuffleExchangeExec":
            acc["exchanges"] += 1
        elif cls == "BroadcastExchangeExec":
            m = _metrics(node)
            acc["broadcasts"] += 1
            acc["broadcast_bytes"] += int(m.get("dataSize", 0))
            acc["broadcast_sizes"].append(int(m.get("dataSize", 0)))
        elif any(p in cls for p in PYTHON_NODES):
            m = _metrics(node)
            acc["python_ms"] += int(m.get("pythonTotalTime", 0))
            acc["python_bytes"] += int(m.get("pythonDataSent", 0)) + int(
                m.get("pythonDataReceived", 0))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(jdf.queryExecution().executedPlan())
    return acc


# --- event log -----------------------------------------------------------

EXEC_PROP = "perfbench.exec"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate stage/task metrics per item execution id (the
    ``perfbench.exec`` local property each job carries)."""
    stage_exec: dict[int, str] = {}
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    ex = (ev.get("Properties") or {}).get(EXEC_PROP)
                    if ex:
                        per[ex]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_exec[sid] = ex
                elif kind == "SparkListenerStageCompleted":
                    ex = stage_exec.get(ev["Stage Info"]["Stage ID"])
                    if ex and "Completion Time" in ev["Stage Info"]:
                        per[ex]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    ex = stage_exec.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if not ex or not tm:
                        continue
                    ti = ev["Task Info"]
                    p = per[ex]
                    dur = ti["Finish Time"] - ti["Launch Time"]
                    run = tm["Executor Run Time"]
                    p["tasks"] += 1
                    p["task_run_ms"] += run
                    p["task_cpu_ns"] += tm["Executor CPU Time"]
                    p["gc_ms"] += tm["JVM GC Time"]
                    p["sched_ms"] += max(0, dur - run - tm["Executor Deserialize Time"]
                                         - tm["Result Serialization Time"]
                                         - ti.get("Getting Result Time", 0))
                    sr = tm["Shuffle Read Metrics"]
                    sw = tm["Shuffle Write Metrics"]
                    im = tm["Input Metrics"]
                    om = tm["Output Metrics"]
                    p["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    p["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    p["fetch_wait_ms"] += sr["Fetch Wait Time"]
                    p["spill_mem"] += tm["Memory Bytes Spilled"]
                    p["spill_disk"] += tm["Disk Bytes Spilled"]
                    p["scan_bytes"] += im["Bytes Read"]
                    p["scan_rows"] += im["Records Read"]
                    p["write_bytes"] += om["Bytes Written"]
                    if om["Records Written"] > 0:
                        p["write_files"] += 1
                    if (im["Records Read"] + sr["Total Records Read"]) == 0:
                        p["empty_tasks"] += 1
    return {k: dict(v) for k, v in per.items()}


# --- streaming -----------------------------------------------------------


def add_stream_listener(spark, tracer: Tracer) -> dict:
    """Register a listener that totals micro-batches, rows and batch time
    per item execution (the tracer's current one); returns the live totals."""
    from pyspark.sql.streaming import StreamingQueryListener

    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            t = totals[tracer.exec_id or "?"]
            t["batches"] += 1
            t["rows"] += p.numInputRows
            t["batch_ms"] += (p.durationMs or {}).get("triggerExecution", 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return totals
