"""Spans and counters measured from outside the program.

Nothing here edits the package: layers are timed by wrapping the
public functions of their modules for the length of the traced passes,
py4j round trips by wrapping the gateway client's ``send_command``,
and execution counters are read from Spark's own status stores.
``Tracer.uninstall`` restores every original binding, and an untraced
pass runs none of this code.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import threading
import time

# layer -> modules whose public functions make up the layer
LAYERS = {
    "synth": ["geodata_spark.synth"],
    "spatial": ["geodata_spark.spatial"],
    "hexgrid": ["geodata_spark.hexgrid"],
    "zonal": ["geodata_spark.zonal"],
    "convert": ["geodata_spark.convert", "geodata_spark.cutout", "geodata_spark.formulas"],
    "masks": ["geodata_spark.masks"],
    "hydro": ["geodata_spark.hydro"],
    "dedup": ["geodata_spark.pipeline.dedup"],
    "similarity": ["geodata_spark.pipeline.similarity"],
    "sinks": ["geodata_spark.sinks"],
    "lineage": ["geodata_spark.lineage"],
    "deploy": ["geodata_spark.deploy"],
}
# counted, not timed: one call plans one zone cover (a cover-cache miss)
COVER_PLANNERS = ["geodata_spark.geometry.polygon_cover", "geodata_spark.hexgrid.hex7_polyfill"]
# layers whose spans also record the Spark jobs and SQL executions they start
JOB_LAYERS = ("masks", "hydro", "dedup", "similarity", "sinks")

# name -> unit of every per-layer metric, as printed with --trace 1
LAYER_METRICS = {
    "build.s": "s", "build.py4j_calls": "count", "build.jobs": "count",
    "plan.s": "s", "exec.s": "s",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.task_skew": "ratio",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s", "exec.python_s": "s",
    "synth.s": "s", "spatial.s": "s", "spatial.cover_plans": "ratio", "hexgrid.s": "s",
    "zonal.s": "s", "convert.s": "s",
    "masks.s": "s", "masks.jobs": "count", "hydro.s": "s", "hydro.jobs": "count",
    "dedup.s": "s", "dedup.jobs": "count", "similarity.s": "s", "similarity.jobs": "count",
    "sinks.s": "s", "sinks.bytes_written": "B", "sinks.files_written": "count",
    "lineage.s": "s", "lineage.fingerprint_s": "s", "lineage.skip_ratio": "ratio",
    "deploy.s": "s", "trace.overhead_s": "s",
}
# summed over the operations of a pass
_OP_SUMS = (
    "build.s", "build.py4j_calls", "build.jobs", "plan.s", "exec.s", "exec.tasks",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.python_s",
)
_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def _metric_total(text: str, units: dict[str, float]) -> float:
    """Total of a formatted SQL metric, e.g. ``'total (min, med, max …)\\n12.0 s (…)'``."""
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-zµ]*)", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * units.get(m.group(2), 1.0) if m else 0.0


def _self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the union of the child intervals inside it."""
    covered, lo_run, hi_run = 0.0, None, None
    for lo, hi in sorted((max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children):
        if hi <= lo:
            continue
        if hi_run is None or lo > hi_run:
            covered += 0.0 if hi_run is None else hi_run - lo_run
            lo_run, hi_run = lo, hi
        else:
            hi_run = max(hi_run, hi)
    covered += 0.0 if hi_run is None else hi_run - lo_run
    return (span["end"] - span["start"]) - covered


class Untraced:
    """Stand-in for :class:`Tracer` in untraced passes."""

    py4j_calls = 0
    operation = phase = staticmethod(lambda name: contextlib.nullcontext())


class Tracer:
    """Records a span per operation, per phase and per call into a layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.py4j_calls = 0
        self._op_id = 0
        self._root: int | None = None
        self._next_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._jstore = self.sc._jsc.sc().statusStore()
        self._sqlstore = spark._jsparkSession.sharedState().statusStore()
        self._dag = self.sc._jsc.sc().dagScheduler()

    # -- JVM reads that must not count as the program's round trips ----
    @contextlib.contextmanager
    def _quiet(self):
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def _jobs_and_sql(self) -> tuple[int, int]:
        with self._quiet():
            return self._dag.numTotalJobs(), self._sqlstore.executionsCount()

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str | None = None) -> dict:
        st = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        span = {
            "id": sid, "parent": st[-1]["id"] if st else self._root, "op": self._op_id,
            "name": name, "layer": layer, "thread": threading.get_ident(),
        }
        if layer is None or layer in JOB_LAYERS:
            span["job_lo"], span["sql_lo"] = self._jobs_and_sql()
        span["start"] = time.perf_counter()
        st.append(span)
        return span

    def end(self, span: dict) -> dict:
        span["end"] = time.perf_counter()
        if "job_lo" in span:
            span["job_hi"], span["sql_hi"] = self._jobs_and_sql()
        st = self._stack()
        while st and st.pop() is not span:  # spans an exception left open
            pass
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def phase(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    @contextlib.contextmanager
    def operation(self, name: str):
        """The root span of one operation; spans opened on pool threads
        (no local parent) hang off it."""
        self._op_id += 1
        with self.phase(name) as root:
            self._root = root["id"]
            try:
                yield root
            finally:
                self._root = None

    # -- install / uninstall --------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return wrapper

    def _count(self, fn, key: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer._lock:
                tracer.counts[key] = tracer.counts.get(key, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every layer's public functions and the py4j client."""
        replace: dict[int, object] = {}
        for full in COVER_PLANNERS:
            mname, name = full.rsplit(".", 1)
            fn = getattr(importlib.import_module(mname), name)
            replace[id(fn)] = self._count(fn, "cover_plans")
        for layer, mods in LAYERS.items():
            for mname in mods:
                for name, fn in vars(importlib.import_module(mname)).items():
                    if (
                        not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mname and id(fn) not in replace
                    ):
                        replace[id(fn)] = self._wrap(fn, f"{layer}.{name}", layer)
        # rebind every module-level reference: ``from x import f`` copies too
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("geodata_spark") or mname == "__spark_entry__"):
                continue
            for name, val in list(vars(mod).items()):
                new = replace.get(id(val))
                if new is not None:
                    self._patched.append((mod, name, val))
                    setattr(mod, name, new)
        client = self.sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if not getattr(tracer._local, "quiet", False):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return send(*args, **kwargs)

        self._patched.append((client, "send_command", None))
        client.send_command = send_command

    def uninstall(self) -> None:
        for obj, name, val in reversed(self._patched):
            if val is None:
                delattr(obj, name)
            else:
                setattr(obj, name, val)
        self._patched.clear()

    # -- execution counters ---------------------------------------------
    def stage_counters(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Task totals over the stages of jobs ``[job_lo, job_hi)``, and
        the longest stage's max / median task run time."""
        out = dict(tasks=0.0, shuffle_write_bytes=0.0, shuffle_read_bytes=0.0,
                   spill_bytes=0.0, cpu_s=0.0, run_s=0.0, gc_s=0.0,
                   output_bytes=0.0, task_skew=1.0)
        with self._quiet():
            stages: set[int] = set()
            for j in range(job_lo, job_hi):
                it = self._jstore.job(j).stageIds().iterator()
                while it.hasNext():
                    stages.add(int(it.next()))
            longest, longest_run = None, -1.0
            for s in sorted(stages):
                sd = self._jstore.lastStageAttempt(s)
                if str(sd.status()) == "SKIPPED":
                    continue
                run = sd.executorRunTime() / 1e3
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["run_s"] += run
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["output_bytes"] += sd.outputBytes()
                if run > longest_run:
                    longest, longest_run = (s, sd.attemptId()), run
            if longest is not None:
                q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
                q[0], q[1] = 0.5, 1.0
                summary = self._jstore.taskSummary(longest[0], longest[1], q)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    med, mx = float(rt.apply(0)), float(rt.apply(1))
                    out["task_skew"] = mx / med if med > 0 else 1.0
        return out

    def sql_counters(self, exec_lo: int, exec_hi: int) -> dict[str, float]:
        """Python-worker time and files written over the SQL executions
        ``[exec_lo, exec_hi)`` (store order is execution-id order)."""
        out = dict(python_s=0.0, files_written=0.0)
        if exec_hi <= exec_lo:
            return out
        with self._quiet():
            it = self._sqlstore.executionsList(exec_lo, exec_hi - exec_lo).iterator()
            while it.hasNext():
                eid = it.next().executionId()
                values = self._sqlstore.executionMetrics(eid)
                nodes = self._sqlstore.planGraph(eid).allNodes().iterator()
                while nodes.hasNext():
                    ms = nodes.next().metrics().iterator()
                    while ms.hasNext():
                        m = ms.next()
                        if m.name() == "time to run Python workers":
                            key, units = "python_s", _UNITS
                        elif m.name() == "number of written files":
                            key, units = "files_written", {}
                        else:
                            continue
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            out[key] += _metric_total(v.get(), units)
        return out

    def op_record(self, root: dict, build: dict, execute: dict | None, py4j_build: int) -> dict:
        """Counters of one traced operation."""
        rec = {"build.py4j_calls": py4j_build, "build.jobs": build["job_hi"] - build["job_lo"]}
        if execute is not None:
            ex = self.stage_counters(execute["job_lo"], execute["job_hi"])
            rec.update({f"exec.{k}": v for k, v in ex.items() if k != "output_bytes"})
        rec["exec.python_s"] = self.sql_counters(root["sql_lo"], root["sql_hi"])["python_s"]
        return rec

    def pass_metrics(self, recs: list[dict]) -> dict[str, float]:
        """Per-layer totals of one traced pass (its spans and op records)."""
        m = {k: 0.0 for k in LAYER_METRICS}
        for r in recs:
            for k in _OP_SUMS:
                m[k] += r.get(k, 0.0)
            m["exec.task_skew"] = max(m["exec.task_skew"], r.get("exec.task_skew", 0.0))
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            layer = s["layer"]
            if layer is None:
                continue
            kids = children.get(s["id"], [])
            m[f"{layer}.s"] += _self_time(s, kids)
            if f"{layer}.jobs" in m:
                kid_jobs = sum(c["job_hi"] - c["job_lo"] for c in kids if "job_lo" in c)
                m[f"{layer}.jobs"] += s["job_hi"] - s["job_lo"] - kid_jobs
            parent = by_id.get(s["parent"])
            if layer == "sinks" and (parent is None or parent["layer"] != "sinks"):
                m["sinks.bytes_written"] += self.stage_counters(s["job_lo"], s["job_hi"])["output_bytes"]
                m["sinks.files_written"] += self.sql_counters(s["sql_lo"], s["sql_hi"])["files_written"]
            if s["name"] == "lineage.partition_fingerprint":
                m["lineage.fingerprint_s"] += s["end"] - s["start"]
        covers = sum(1 for s in self.spans if s["name"] == "spatial.zone_cover_df")
        m["spatial.cover_plans"] = self.counts.get("cover_plans", 0) / max(1, covers)
        return m
