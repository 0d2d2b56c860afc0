"""Outside-in layer trace for the warm-pass benchmark.

Everything here is installed from the benchmark's side; no product file
knows about it:

* wrappers around the public entry points of ``sources`` (``load_table``),
  every public function of ``operators.*``, and ``streaming``'s
  ``run_stream_to_memory`` and ``force_pins``. Names that other modules
  bound with ``from ... import`` are rebound too: ``queries/_util.py``
  binds ``load_table`` at import time, so patching ``sources`` alone would
  miss every TPC-H call;
* a counter on the py4j client, live while a query is being built;
* ``spark.job.description`` labels (``perfbench|<query>|<phase>``) that
  tie jobs in the REST ``/jobs`` listing to the span that launched them.
  Jobs without any description (``force_pins`` runs its counts on pool
  threads, which do not inherit local properties) are attributed by the
  span their submission time falls in and counted as unattributed;
* stage and Python SQL-node metrics from the UI REST API, streaming
  progress from ``spark.streams.addListener``, and JIT / GC / heap /
  code-cache figures from the JVM's management beans over py4j.

Spans and counters live in memory and are reduced to one dict of
per-layer numbers per traced pass (:meth:`Tracer.pass_metrics`).
"""

from __future__ import annotations

import calendar
import contextlib
import functools
import inspect
import json
import sys
import threading
import time
import urllib.request
from datetime import datetime

PKG = "incubator_flink_old_spark"
LABEL = "perfbench"
_DESC = "spark.job.description"
MB = 1024.0 * 1024.0

#: Spark 4.1 Python SQL-node metrics (PythonSQLMetrics) by display name.
PY_METRICS = {
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.received_mb",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}


def _rest_time(s: str | None) -> float | None:
    """REST timestamps read ``2026-01-01T10:00:00.123GMT``; epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def _metric_total(value: str) -> float:
    """First quantity of a SQL metric string, in seconds or bytes.

    Per-task metrics read ``total (min, med, max (...))\\n1.2 s (...)``;
    driver-side ones are just ``1.2 s``."""
    num, unit = value.strip().split("\n")[-1].split()[:2]
    num = float(num.replace(",", ""))
    return num * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1.0))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class _Progress:
    """Collects StreamingQueryProgress events (listener-bus thread)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                with outer.lock:
                    outer.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated += 1

        self.lock = threading.Lock()
        self.listener = Listener()
        self.reset()

    def reset(self) -> None:
        self.started = self.terminated = 0
        self.events: list[dict] = []

    def drain(self, timeout: float = 10.0) -> list[dict]:
        """Events of the pass, once every started query has terminated."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.05)
        with self.lock:
            return list(self.events)


class Tracer:
    """Per-pass layer trace; ``install()`` before a traced pass and
    ``uninstall()`` after it, so untraced passes run unwrapped code."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        ui = self.sc.uiWebUrl
        if not ui:
            raise RuntimeError("traced run needs the Spark UI (SPARK_GRAFT_UI=1)")
        self._rest = f"{ui}/api/v1/applications/{self.sc.applicationId}"
        self._jmx = self.sc._jvm.java.lang.management.ManagementFactory
        self._client = self.sc._gateway._gateway_client
        self._progress = _Progress()
        self._patched: list[tuple[dict, str, object]] = []
        self._own = threading.local()
        self._desc = ""
        self._query = ""
        self._op_depth = 0
        self._reset()

    # -- instrumentation ---------------------------------------------------

    def _reset(self) -> None:
        self.spans: list[tuple[str, str, float, float]] = []  # query, phase, t0, t1
        self.counts = {
            "sources.load_table_calls": 0,
            "sources.load_table_s": 0.0,
            "queries.py4j_calls": 0,
            "streaming.force_pins_s": 0.0,
        }
        self._counting = False
        self._progress.reset()

    def _set_desc(self, desc: str) -> None:
        self._own.active = True
        try:
            self.sc.setLocalProperty(_DESC, desc or None)
        finally:
            self._own.active = False
        self._desc = desc

    def _wrap(self, fn, kind: str):
        tracer = self

        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # finds the wrapper under the original's name and pickles it by
        # reference: a Python worker resolves it to the unwrapped function.
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            if kind == "load_table":
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer.counts["sources.load_table_calls"] += 1
                    tracer.counts["sources.load_table_s"] += time.perf_counter() - t0
            outer = tracer._op_depth == 0
            prev = tracer._desc
            if outer:
                tracer._set_desc(f"{LABEL}|{tracer._query}|op:{fn.__name__}")
            tracer._op_depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._op_depth -= 1
                if kind == "force_pins":
                    tracer.counts["streaming.force_pins_s"] += time.perf_counter() - t0
                if outer:
                    tracer._set_desc(prev)

        return wrapper

    def _targets(self) -> dict:
        """Original function -> kind, for every function the trace wraps."""
        mods = sys.modules
        out = {mods[f"{PKG}.sources"].load_table: "load_table"}
        for name, mod in list(mods.items()):
            if name.startswith(f"{PKG}.operators.") and mod is not None:
                for attr, fn in vars(mod).items():
                    if (
                        inspect.isfunction(fn)
                        and not attr.startswith("_")
                        and fn.__module__ == name
                    ):
                        out[fn] = "op"
        streaming = mods[f"{PKG}.streaming"]
        out[streaming.run_stream_to_memory] = "op"
        out[streaming.force_pins] = "force_pins"
        return out

    def install(self) -> None:
        targets = self._targets()
        wrappers = {fn: self._wrap(fn, kind) for fn, kind in targets.items()}
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            ns = vars(mod)
            for attr, val in list(ns.items()):
                if inspect.isfunction(val) and val in wrappers:
                    self._patched.append((ns, attr, val))
                    ns[attr] = wrappers[val]
        orig_send = self._client.send_command

        def counting_send(*args, **kwargs):
            if self._counting and not getattr(self._own, "active", False):
                self.counts["queries.py4j_calls"] += 1
            return orig_send(*args, **kwargs)

        self._client.send_command = counting_send
        self.spark.streams.addListener(self._progress.listener)
        self._reset()

    def uninstall(self) -> None:
        self.spark.streams.removeListener(self._progress.listener)
        del self._client.send_command  # back to the class method
        for ns, attr, val in reversed(self._patched):
            ns[attr] = val
        self._patched.clear()

    @contextlib.contextmanager
    def phase(self, query: str, phase: str):
        """Span around building (``build``) or running (``action``) a query."""
        self._query = query
        self._set_desc(f"{LABEL}|{query}|{phase}")
        self._counting = phase == "build"
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((query, phase, t0, time.time()))
            self._counting = False
            self._set_desc("")

    # -- JVM ---------------------------------------------------------------

    def _jvm(self, fn):
        self._own.active = True
        try:
            return fn()
        finally:
            self._own.active = False

    def jit_s(self) -> float:
        return self._jvm(
            lambda: self._jmx.getCompilationMXBean().getTotalCompilationTime() / 1e3
        )

    def gc_s(self) -> float:
        return self._jvm(
            lambda: sum(
                b.getCollectionTime() for b in self._jmx.getGarbageCollectorMXBeans()
            ) / 1e3
        )

    def jvm_memory(self) -> dict[str, float]:
        """Code cache in use, and heap still in use after a full GC."""

        def read():
            code = sum(
                p.getUsage().getUsed()
                for p in self._jmx.getMemoryPoolMXBeans()
                if "CodeHeap" in p.getName() or "Code Cache" in p.getName()
            )
            self.sc._jvm.System.gc()
            heap = self._jmx.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            return {"jvm.code_cache_mb": code / MB, "jvm.retained_heap_mb": heap / MB}

        return self._jvm(read)

    # -- REST ----------------------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in [t0, t1], once the status store shows them done."""
        for _ in range(100):
            jobs = [
                j
                for j in self._get("/jobs")
                if t0 - 0.005 <= _rest_time(j.get("submissionTime")) <= t1 + 0.005
            ]
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.1)
        raise RuntimeError("jobs still RUNNING after the pass")

    def _phase_at(self, t: float) -> str | None:
        for _, phase, a, b in self.spans:
            if a - 0.005 <= t <= b + 0.005:
                return phase
        return None

    def pass_metrics(self, t0: float, t1: float, gc_s: float) -> dict[str, float]:
        """Per-layer numbers of the traced pass that ran in [t0, t1]."""
        jobs = self._settled_jobs(t0, t1)
        stages: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            if s.get("status") != "SKIPPED":
                stages.setdefault(s["stageId"], []).append(s)

        groups = {"action": [], "eager": [], "stream": []}
        unattributed = 0
        interval = {}
        for j in jobs:
            a = _rest_time(j["submissionTime"])
            interval[j["jobId"]] = (a, _rest_time(j.get("completionTime")) or a)
            desc = j.get("description") or ""
            if desc.startswith(LABEL + "|"):
                phase = "action" if desc.endswith("|action") else "eager"
            elif "runId = " in desc:
                phase = "stream"
            else:
                unattributed += not desc
                phase = "action" if self._phase_at(a) == "action" else "eager"
            groups[phase].append(j)

        def attempts(group) -> list[dict]:
            return [
                s for j in group for sid in j.get("stageIds", ()) for s in stages.get(sid, ())
            ]

        def total(group, field) -> float:
            return sum(s.get(field, 0) or 0 for s in attempts(group))

        act, eager = groups["action"], groups["eager"]
        tasks = total(act, "numCompleteTasks") + total(act, "numFailedTasks")
        builds = [(a, b) for _, phase, a, b in self.spans if phase == "build"]
        build_s = sum(b - a for a, b in builds)
        busy_in_build = sum(_union(_clip(interval.values(), a, b)) for a, b in builds)
        out = dict(self.counts)
        out.update({
            "queries.build_s": build_s,
            "queries.build_driver_s": build_s - busy_in_build,
            "operators.eager_jobs": len(eager),
            "operators.eager_job_s": _union([interval[j["jobId"]] for j in eager]),
            "operators.eager_executor_cpu_s": total(eager, "executorCpuTime") / 1e9,
            "operators.persisted_after_pass": self._jvm(
                lambda: self.sc._jsc.getPersistentRDDs().size()
            ),
            "action.s": sum(b - a for _, phase, a, b in self.spans if phase == "action"),
            "action.stages": len(attempts(act)),
            "action.tasks": tasks,
            "action.executor_run_s": total(act, "executorRunTime") / 1e3,
            "action.executor_cpu_s": total(act, "executorCpuTime") / 1e9,
            "action.gc_s": total(act, "jvmGcTime") / 1e3,
            "action.shuffle_read_mb": total(act, "shuffleReadBytes") / MB,
            "action.shuffle_write_mb": total(act, "shuffleWriteBytes") / MB,
            "action.spill_mb": total(act, "diskBytesSpilled") / MB,
            "action.failed_task_frac": total(act, "numFailedTasks") / tasks if tasks else 0.0,
            "jvm.gc_s": gc_s,
            "trace.unattributed_jobs": unattributed,
        })
        out.update(self._python_metrics(set(interval)))
        out.update(self._streaming_metrics())
        return out

    def _python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        out = {name: 0.0 for name in PY_METRICS.values()}
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            ids = set(ex.get("successJobIds", ())) | set(ex.get("failedJobIds", ()))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    name = PY_METRICS.get(m.get("name"))
                    if name:
                        out[name] += _metric_total(m["value"])
        for name in ("pyworker.sent_mb", "pyworker.received_mb"):
            out[name] /= MB
        return out

    def _streaming_metrics(self) -> dict[str, float]:
        events = self._progress.drain()

        def state(e: dict, field: str) -> float:
            return sum(op.get(field, 0) for op in e.get("stateOperators", ()))

        out = {
            "streaming.triggers": len(events),
            "streaming.input_rows": sum(e.get("numInputRows", 0) for e in events),
            "streaming.state_commit_s": sum(state(e, "commitTimeMs") for e in events) / 1e3,
        }
        for key, name in (
            ("triggerExecution", "streaming.trigger_s"),
            ("addBatch", "streaming.add_batch_s"),
            ("queryPlanning", "streaming.query_planning_s"),
            ("walCommit", "streaming.wal_commit_s"),
            ("commitOffsets", "streaming.commit_offsets_s"),
            ("latestOffset", "streaming.latest_offset_s"),
        ):
            out[name] = sum(e.get("durationMs", {}).get(key, 0) for e in events) / 1e3
        last: dict[str, dict] = {}
        peak_mem: dict[str, float] = {}
        for e in events:
            last[e["runId"]] = e
            mem = state(e, "memoryUsedBytes")
            peak_mem[e["runId"]] = max(peak_mem.get(e["runId"], 0), mem)
        out["streaming.state_rows"] = sum(state(e, "numRowsTotal") for e in last.values())
        out["streaming.state_memory_mb"] = sum(peak_mem.values()) / MB
        return out
