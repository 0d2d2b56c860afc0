"""Driver simulation: exercise the __spark_entry__ contract exactly the way
the round driver does — its own vanilla SparkSession (NOT the engine's
factory), entry() smoke at sf0.001, every queries()/oracle_sql() pair
compared via DuckDB at sf0.01 with order-insensitive value hashing.

Usage: python tools/driver_sim.py [sf_dir]
Probe flags:
  TZ_PROBE=1   build the session with a non-UTC session timezone to prove
               the engine's prep_session defense normalizes it.
  SIM_ONLY=a,b run only the named queries (comma-separated substrings).
  SIM_SKIP=a,b skip queries whose name contains any listed substring —
               for chunked sf0.1 sweeps where DuckDB's single-threaded
               pair oracles dominate wall time.
  SIM_EXACT=a,b run EXACTLY the named queries (comma-separated full
               names, matched by equality; overrides SIM_ONLY/SIM_SKIP).
               This is how the chunked runner selects for its children —
               substring selection could run a name in two children when
               one registered name nests inside another (ADVICE r11).
  SIM_STREAM_BATCH=n  max streaming-family queries per JVM (default 2;
               0 disables the split). PERF.md (round 10) measured that
               batching several 1.1M-row streaming parity rows in one
               default-memory (1g) driver JVM OOMs the sim — when more
               than n `q_stream*` queries are selected, the sim runs
               them in child processes of ≤ n each (VERDICT r10 item
               6), with the non-streaming remainder in one further
               child of its own.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_flink_old_spark.sources import TABLES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _selected_names() -> tuple[list[str], list[str], list[str]]:
    """Resolve SIM_ONLY/SIM_SKIP against the registry WITHOUT starting
    Spark: returns (all selected, streaming subset, non-streaming
    subset). Streaming-family = name starts with 'q_stream' — the rows
    that hold multi-batch state-store + replay buffers alive in the
    JVM."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    exact = {s for s in os.environ.get("SIM_EXACT", "").split(",") if s}
    only = [s for s in os.environ.get("SIM_ONLY", "").split(",") if s]
    skip = [s for s in os.environ.get("SIM_SKIP", "").split(",") if s]
    if exact:
        names = [n for n in sorted(QUERIES) if n in exact]
    else:
        names = [
            n
            for n in sorted(QUERIES)
            if (not only or any(s in n for s in only))
            and not (skip and any(s in n for s in skip))
        ]
    stream = [n for n in names if n.startswith("q_stream")]
    rest = [n for n in names if not n.startswith("q_stream")]
    return sorted(QUERIES), stream, rest


def _run_chunked() -> int:
    """Auto-batch streaming rows into child sims of ≤ SIM_STREAM_BATCH
    each (PERF.md round-10: several 1.1M-row streaming parities in one
    1g-driver JVM OOM). Children get SIM_EXACT=<names> (equality match —
    a substring scheme could run a name in two children when one
    registered name nests inside another, pushing a child past the very
    OOM bound the split enforces; ADVICE r11) and SIM_STREAM_CHILD=1
    (no further splitting)."""
    import subprocess

    batch = int(os.environ.get("SIM_STREAM_BATCH", "2"))
    allnames, stream, rest = _selected_names()
    if batch <= 0 or len(stream) <= batch:
        return None  # no split needed; run in-process
    rc = 0
    me = os.path.abspath(__file__)
    chunks = [stream[i : i + batch] for i in range(0, len(stream), batch)]
    if rest:
        chunks.append(rest)
    for chunk in chunks:
        env = dict(
            os.environ,
            SIM_EXACT=",".join(chunk),
            SIM_STREAM_CHILD="1",
        )
        print(f"--- child sim: {len(chunk)} queries ---", flush=True)
        # Normalize to 0/1: a signal-killed child (e.g. OOM-killed, the
        # very scenario the split exists for) returns NEGATIVE from
        # subprocess.call, and a negative aggregate must still read as
        # failure — never as the in-process fall-through (review
        # finding; the old -1 sentinel collided with it).
        rc |= 1 if subprocess.call([sys.executable, me, SF_DIR], env=env) else 0
    return rc


def main() -> int:
    if not os.environ.get("SIM_STREAM_CHILD"):
        rc = _run_chunked()
        if rc is not None:
            return rc
    builder = SparkSession.builder.master("local[8]").appName("driver-sim")
    if os.environ.get("TZ_PROBE"):
        builder = builder.config("spark.sql.session.timeZone", "America/New_York")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    print(f"entry(): {len(rows)} rows  first={rows[0] if rows else None}")
    assert len(rows) > 0

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    exact = {s for s in os.environ.get("SIM_EXACT", "").split(",") if s}
    only = [s for s in os.environ.get("SIM_ONLY", "").split(",") if s]
    skip = [s for s in os.environ.get("SIM_SKIP", "").split(",") if s]
    n_match = n_fail = n_rows_only = 0
    for name in sorted(qs):
        if exact:
            if name not in exact:
                continue
        elif (only and not any(s in name for s in only)) or (
            skip and any(s in name for s in skip)
        ):
            continue
        df = qs[name](spark, SF_DIR)
        out = df.collect()
        if name not in oracles:
            print(f"  {name}: rows-only, {len(out)} rows")
            n_rows_only += 1
            continue
        cur = con.execute(oracles[name])
        exp_cols = [d[0] for d in cur.description]
        exp = cur.fetchall()
        h_spark = value_hash(df.columns, [tuple(r) for r in out])
        h_duck = value_hash(exp_cols, exp)
        ok = h_spark == h_duck and len(out) == len(exp) and sorted(df.columns) == sorted(exp_cols)
        status = "MATCH" if ok else "MISMATCH"
        if not ok:
            n_fail += 1
            print(
                f"  {name}: {status} rows {len(out)}/{len(exp)} "
                f"cols {sorted(df.columns)}/{sorted(exp_cols)}"
            )
        else:
            n_match += 1
            print(f"  {name}: {status} ({len(out)} rows)")
    print(f"TOTAL: {n_match} match, {n_rows_only} rows-only, {n_fail} mismatch")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
