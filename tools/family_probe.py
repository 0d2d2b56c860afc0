"""Bench-context family probe: run a list of registered queries in ONE
fresh JVM with bench.py's warmups, 2 runs each (min reported), engine
metrics from the UI REST API — the committed-sidecar methodology on an
arbitrary row subset (guide §1: measure in the context you compare to).

``cpu`` is the JVM executor CPU of the row's stages (REST). ``tcpu`` is
the CPU of the whole process tree over the run, utime+stime+cutime+cstime
from /proc, as perfbench's ``tree_cpu_s`` reads it: the driver, the JVM
with its compile and GC threads, the Python workers, and the processes
the JVM forks. The last line sums wall, cpu and tcpu over the rows.

Usage: python tools/family_probe.py q_a,q_b,... [sf_dir] [baseline.json]
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = sys.argv[1].split(",")
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
BASE = sys.argv[3] if len(sys.argv) > 3 else None


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2 :].split()


def tree_cpu() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, utime+stime+cutime+cstime in s)} for this process and
    all its descendants."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stats[int(entry)] = _stat(int(entry))
            except OSError:
                pass
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    hz = os.sysconf("SC_CLK_TCK")
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            st = stats[pid]
            out[pid] = (int(st[1]), sum(int(x) for x in st[11:15]) / hz)
        todo.extend(children.get(pid, ()))
    return out


def _ignores_sigchld(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) >> (signal.SIGCHLD - 1) & 1)
    except OSError:
        pass
    return False


def tree_cpu_delta(before: dict, after: dict) -> float:
    """CPU the tree spent between two :func:`tree_cpu` snapshots. PySpark's
    daemon ignores SIGCHLD, so the kernel reaps its workers and a worker's
    CPU reaches no parent's cutime: a worker that exits in between (an
    idle worker is stopped after a minute) would take its whole lifetime's
    CPU out of the sum. Its CPU up to ``before`` is added back, so such a
    row reads low by the worker's last stretch, never negative."""
    lost = sum(
        cpu
        for pid, (ppid, cpu) in before.items()
        if pid not in after and ppid in after and _ignores_sigchld(ppid)
    )
    return (
        sum(c for _, c in after.values())
        - sum(c for _, c in before.values())
        + lost
    )


def main():
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import importlib

    bench = importlib.import_module("bench")
    from incubator_flink_old_spark import get_spark
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    base_wall, base_cpu = {}, {}
    if BASE:
        for p in BASE.split(","):
            d = json.load(open(p))
            for q, w in d["queries"].items():
                if q not in base_wall or w < base_wall[q]:
                    base_wall[q] = w
            for q, m in d["engine_metrics"].items():
                c = m["executor_cpu_time_ns"] / 1e9
                if q not in base_cpu or c < base_cpu[q]:
                    base_cpu[q] = c

    spark = get_spark("family-probe")
    for warm in ("q_tpch_q3", "q_dedup_minhash", "q_agg_cube", "q_map_pandas"):
        QUERIES[warm](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    metrics = bench.StageMetrics(spark)
    metrics.advance()

    print(
        f"{'query':36s} {'wall':>7s} {'cpu':>7s} {'tcpu':>7s} {'shufMB':>7s}"
        f" {'stg':>4s} | {'b.wall':>7s} {'b.cpu':>7s} {'w.ratio':>7s}",
        flush=True,
    )
    sums = [0.0, 0.0, 0.0]
    for name in NAMES:
        walls, cpus, tcpus, best = [], [], [], None
        for _ in range(2):
            c0, t0 = tree_cpu(), time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(time.perf_counter() - t0)
            tcpus.append(tree_cpu_delta(c0, tree_cpu()))
            m = metrics.advance()
            cpus.append(m["executor_cpu_time_ns"] / 1e9)
            if best is None or cpus[-1] < best["executor_cpu_time_ns"] / 1e9:
                best = m
        w, c, tc = min(walls), min(cpus), min(tcpus)
        sums = [sums[0] + w, sums[1] + c, sums[2] + tc]
        bw, bc = base_wall.get(name), base_cpu.get(name)
        extra = (
            f" | {bw:7.2f} {bc:7.2f} {w / bw:7.2f}" if bw else " |       -"
        )
        print(
            f"{name:36s} {w:7.2f} {c:7.2f} {tc:7.2f}"
            f" {best['shuffle_read_bytes'] / 1e6:7.1f} {best['n_stages']:4d}"
            + extra,
            flush=True,
        )
    print(
        f"{f'TOTAL ({len(NAMES)} rows)':36s} {sums[0]:7.2f} {sums[1]:7.2f}"
        f" {sums[2]:7.2f}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
