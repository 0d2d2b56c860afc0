"""Rebuild ``reference.json``, the digests ``run.py`` checks results against.

    python3 perfbench/make_reference.py

Each benchmark query runs once on Spark over ``perfbench/data``. Its
order-insensitive digest (``tools/driver_sim.value_hash``) is kept only if
it equals the digest of the query's DuckDB oracle (``ORACLES``) over the
same files; otherwise the script exits non-zero and writes nothing.
"""

from __future__ import annotations

import json
import os
import sys
import time

from run import DATA, DRIVER_MEM, REFERENCE, ROOT, WORKLOADS, isolate, release, stop_tree


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM
    )
    work = isolate()
    spark = None
    try:
        import duckdb

        from incubator_flink_old_spark import get_spark
        from incubator_flink_old_spark.queries import ORACLES, QUERIES, load_all_queries
        from tools.driver_sim import TABLES, value_hash

        spark = get_spark("perfbench-reference")
        load_all_queries()
        con = duckdb.connect()
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{DATA}/{name}.parquet')"
            )
        out, bad = {}, []
        for name in sorted(q for qs in WORKLOADS.values() for q in qs):
            df = QUERIES[name](spark, DATA)
            rows = [tuple(r) for r in df.collect()]
            t = time.perf_counter()
            cur = con.execute(ORACLES[name])
            exp_cols = [d[0] for d in cur.description]
            exp = cur.fetchall()
            oracle_s = time.perf_counter() - t
            digest = value_hash(df.columns, rows)
            ok = (
                digest == value_hash(exp_cols, exp)
                and len(rows) == len(exp)
                and sorted(df.columns) == sorted(exp_cols)
            )
            print(f"{name}: {'MATCH' if ok else 'MISMATCH'} {len(rows)} rows, "
                  f"oracle {oracle_s:.2f} s")
            if ok:
                out[name] = {"rows": len(rows), "digest": digest}
            else:
                bad.append(name)
    finally:
        stop_tree(spark)
        release(work)
    if bad:
        print(f"not written: {bad} disagree with their DuckDB oracles", file=sys.stderr)
        return 1
    with open(REFERENCE, "w") as f:
        json.dump({"fixtures": "perfbench/data (sf0.01)", "queries": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
