"""Python-worker daemon of get_spark sessions: pyspark's daemon, run after
Spark's python archives are taken off ``sys.path``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the
head of every worker's ``sys.path``. On CPython 3.11 each task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, which makes
every cached ``zipimporter`` re-read its archive's directory: 16 importers
and 26,672 entries parsed in pure Python, 0.16-0.30 s of CPU a task
(PERF.md, Python-worker per-task floor). When pyspark and py4j are also
installed as directories, the worker imports them from there instead and
no task pays that. A Spark-only install keeps its archives.

    python -m incubator_flink_old_spark.pyworker pyspark.worker
"""

from __future__ import annotations

import sys
from importlib.machinery import PathFinder


def prune_archive_paths(path: list[str] = sys.path, importers: dict = sys.path_importer_cache) -> None:
    """Drop the ``.zip``/``.jar`` entries of ``path`` and their
    ``importers`` if pyspark and py4j still resolve without them; else
    change nothing."""
    archives = tuple(p for p in path if p.endswith((".zip", ".jar")))
    rest = [p for p in path if p not in archives]
    if not all(PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j")):
        return
    path[:] = rest
    for key in [k for k in importers if k.startswith(archives)]:
        del importers[key]


if __name__ == "__main__":
    prune_archive_paths()
    from pyspark import daemon

    daemon.manager()
