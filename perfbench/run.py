"""Warm-pass benchmark of the spark-graft engine (see README.md).

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 5 --trace 0

One run is one fresh process with one closed-loop client: the Spark
driver's Python thread issues the workload's registered queries back to
back, each as ``QUERIES[name](spark, data_dir)`` followed by a ``noop``
write. The run sets the session up, makes one timed cold pass, checks every
query's result against ``reference.json`` in an untimed pass, then times a
fixed number of warm passes: ``--seconds`` divided by the workload's
nominal pass length (``PASS_S``). The seed picks the order of queries
within each warm pass. The last line of stdout is one JSON object; with
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of ``layers.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Byte-identical copy of the engine's sf0.01 fixture tables.
DATA = os.path.join(HERE, "data")
REFERENCE = os.path.join(HERE, "reference.json")

#: Why each workload exists is in README.md. ``pins`` is not a workload of
#: BENCHMARK.json: it is the one row cheap enough to reach
#: ``streaming.force_pins``, whose pool-thread jobs only a traced run of it
#: exercises (README.md, "Per-layer metrics").
WORKLOADS = {
    "tpch": ["q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6"],
    "curation": ["q_dedup_minhash", "q_simhash_pairs"],
    "streaming": ["q_stream_hh_parity"],
    "pins": ["q_stream_ingest_gate_parity"],
}
#: Nominal warm-pass seconds per workload. ``--seconds`` divided by it is
#: the number of warm passes, fixed before any pass runs: the timed passes
#: sit at the same positions in every run, however fast they are.
PASS_S = {"tpch": 3.0, "curation": 3.0, "streaming": 4.5, "pins": 9.0}
#: Heap ceiling, fixed so that peak RSS is comparable between commits.
DRIVER_MEM = "2g"


# -- process-tree accounting (/proc) ------------------------------------------


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2 :].split()


def _tree() -> list[int]:
    """This process and all its descendants (the JVM, the Python-worker
    daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                children.setdefault(int(_stat(int(entry))[1]), []).append(int(entry))
            except OSError:
                pass
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over the tree. ``getrusage`` cannot
    replace this: the JVM is not a reaped child until it exits."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree():
        try:
            total += sum(int(x) for x in _stat(pid)[11:15])
        except OSError:
            pass
    return total / hz


def tree_hwm_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine so far, from ``/proc/stat``:
    the time a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def since_process_start() -> float:
    """Seconds since this process was exec'd (clock-tick resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / os.sysconf("SC_CLK_TCK")


# -- run isolation ------------------------------------------------------------


def isolate() -> str:
    """Private TMPDIR / SPARK_LOCAL_DIRS / java.io.tmpdir under the
    checkout; queries ``mkdtemp`` directories they never delete."""
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    )
    tempfile.tempdir = None
    return work


def release(work: str) -> None:
    """Remove what :func:`isolate` made, once the run's processes are gone."""
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))


def stop_tree(spark) -> None:
    """Stop Spark, let the JVM exit, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in _tree() if p != os.getpid()]
        if not rest:
            return
        for pid in rest:
            if time.monotonic() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.1)


# -- passes -------------------------------------------------------------------


class Run:
    """The passes of one run and the count of queries attempted and failed."""

    def __init__(self, spark, queries, workload: str, seed: int, tracer=None):
        self.spark = spark
        self.queries = queries
        self.workload = workload
        self.names = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.attempted = 0
        self.failed: list[str] = []

    def order(self) -> list[str]:
        return self.rng.sample(self.names, len(self.names))

    def one(self, name: str, traced: bool) -> None:
        build = self.queries[name]
        if traced:
            with self.tracer.phase(name, "build"):
                df = build(self.spark, DATA)
            with self.tracer.phase(name, "action"):
                df.write.format("noop").mode("overwrite").save()
        else:
            build(self.spark, DATA).write.format("noop").mode("overwrite").save()

    def warm_passes(self, seconds: float, traced: bool) -> int:
        """``seconds // PASS_S``, at least 1. A traced run alternates
        untraced and traced passes, starting and ending with an untraced
        one, so it needs an odd count of at least 3."""
        n = max(1, int(seconds // PASS_S[self.workload]))
        return max(3, n | 1) if traced else n

    def timed_pass(self, warm: bool = True, traced: bool = False) -> tuple[float, float]:
        """Wall and process-tree CPU seconds of one pass. The cold pass
        runs in the listed order, so every run warms the JIT alike."""
        order = self.order() if warm else self.names
        c0, t0 = tree_cpu_s(), time.perf_counter()
        for name in order:
            self.attempted += 1
            try:
                self.one(name, traced)
            except Exception as exc:
                self.failed.append(name)
                print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
        return time.perf_counter() - t0, tree_cpu_s() - c0

    def check(self) -> None:
        """Untimed: every query's result against its reference digest,
        order-insensitively hashed as the driver simulation does. A
        mismatch or exception is a failure and is never retried."""
        from tools.driver_sim import value_hash

        with open(REFERENCE) as f:
            reference = json.load(f)["queries"]
        for name in self.names:
            self.attempted += 1
            try:
                df = self.queries[name](self.spark, DATA)
                rows = [tuple(r) for r in df.collect()]
                got = {"rows": len(rows), "digest": value_hash(df.columns, rows)}
            except Exception as exc:
                got = repr(exc)
            if got != reference[name]:
                self.failed.append(name)
                print(f"perfbench: {name} check failed: {got}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    if args.trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    sys.path.insert(0, ROOT)
    work = isolate()
    steal0 = steal_ticks()
    spark = None
    try:
        # -- set-up: process start .. one spark.range(1) noop action
        t = time.perf_counter()
        from incubator_flink_old_spark import get_spark

        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        from incubator_flink_old_spark.queries import QUERIES, load_all_queries

        load_all_queries()
        load_all_s = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        first_action_s = time.perf_counter() - t
        setup_s = since_process_start()

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            jit0 = tracer.jit_s()
        run = Run(spark, QUERIES, args.workload, args.seed, tracer)
        cold_s, cold_cpu = run.timed_pass(warm=False)
        print(f"perfbench: cold pass wall_s={cold_s:.3f} cpu_s={cold_cpu:.2f}", file=sys.stderr)
        # Peak RSS through set-up and the cold pass, which every run executes
        # in the same order: the seeded warm-pass orders move G1's
        # heap-expansion steps, and the check holds results in Python lists.
        peak_rss_mb = tree_hwm_mb()
        if tracer:
            jit_s = tracer.jit_s() - jit0
        run.check()

        walls, cpus_s, layer = [], [], []
        # In a traced run the traced passes sit between untraced neighbours,
        # so a linear drift in pass time cancels from the overhead.
        for i in range(run.warm_passes(args.seconds, bool(args.trace))):
            is_traced = bool(args.trace) and i % 2 == 1
            if is_traced:
                tracer.install()
                gc0, p0 = tracer.gc_s(), time.time()
            try:
                wall, cpu = run.timed_pass(traced=is_traced)
            finally:
                if is_traced:
                    p1 = time.time()
                    tracer.uninstall()
            walls.append(wall)
            cpus_s.append(cpu)
            if is_traced:
                layer.append(tracer.pass_metrics(p0, p1, tracer.gc_s() - gc0))
        for i, (w, c) in enumerate(zip(walls, cpus_s)):
            kind = ("traced" if i % 2 else "untraced") if args.trace else "warm"
            print(f"perfbench: pass {i} {kind} wall_s={w:.3f} cpu_s={c:.2f}", file=sys.stderr)

        if args.trace:
            metrics = {
                "session.get_spark_s": (get_spark_s, "s"),
                "queries.load_all_s": (load_all_s, "s"),
                "session.first_action_s": (first_action_s, "s"),
                "jvm.jit_compile_s": (jit_s, "s"),
            }
            for key in layer[0]:
                metrics[key] = (statistics.median(m[key] for m in layer), _unit(key))
            for key, value in tracer.jvm_memory().items():
                metrics[key] = (value, "MB")
            traced = statistics.median(walls[1::2])
            metrics["trace.pass_s"] = (traced, "s")
            metrics["trace.overhead_s"] = (traced - statistics.median(walls[0::2]), "s")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold_s, "s"),
                "pass_s": (statistics.median(walls), "s"),
                "cpu_s": (statistics.median(cpus_s), "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        steal, ticks = (b - a for a, b in zip(steal0, steal_ticks()))
        summary = {
            "workload": args.workload,
            "queries": len(run.names),
            "warm_passes": len(walls),
            "driver_mem": DRIVER_MEM,
            "cpus": int(cpus),
            "failed_frac": len(run.failed) / run.attempted,
            "steal_frac": steal / max(1, ticks),
        }
        print("perfbench: " + json.dumps(summary), file=sys.stderr)
        for key, (value, unit) in metrics.items():
            print(f"perfbench: {key} = {value:.4f} {unit}", file=sys.stderr)
        result = {
            "correct": not run.failed,
            "attempted": run.attempted,
            "failed": len(run.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            stop_tree(spark)
        finally:
            release(work)
    print(json.dumps(result))
    return 0


def _unit(key: str) -> str:
    suffix = key.replace(".", "_").rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "frac": "fraction"}.get(suffix, "count")


if __name__ == "__main__":
    sys.exit(main())
