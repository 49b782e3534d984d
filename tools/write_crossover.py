"""Crossover of the sink's two single-writer write paths: ``coalesce(1)``
against the ``repartition(1, _p_*)`` hash exchange.

Usage: python3 tools/write_crossover.py [--rows 1000,10000,100000,1000000]
                                        [--inputs arrow,scan_sha2,scan_join]
                                        [--repeats 3] [--cpus N]

``LakeSink._write_commit`` coalesces a ``num_partitions=1`` write whose
Catalyst size estimate is at or below ``operators/sink._COALESCE_MAX_BYTES``
and keeps the exchange above it. This tool measures where that line should
sit on the host it runs on. It times ``LakeSink.append`` into a ``day(ts)``
partitioned table at each row count for three inputs:

- ``arrow``: a frame built from one Arrow table (a ``LocalRelation``);
- ``scan_sha2``: a 4-file parquet scan with two sha2-512 columns and a
  ``regexp_replace`` column computed upstream of the write;
- ``scan_join``: the same scan joined with a 1000-row parquet dimension.

Each path runs in a child process of its own that sets the module
constant (-1 forces the exchange, an unbounded value forces
``coalesce(1)``), so the engine has no switch for it. Every row count gets
a fresh table, one untimed append and then ``--repeats`` timed ones (one
at a million rows or more); the median is reported. ``arrow`` stops at
100k rows, because a million-row Arrow frame in the 1 GiB driver heap
stalls the JVM.

Prints one JSON line per measurement, then a table: input, rows, the
size estimate the sink decides on, milliseconds per append on each path,
and their ratio. Input files and tables live in a temp dir removed on
exit.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATHS = {"exchange": -1, "coalesce": float("inf")}
INPUTS = ("arrow", "scan_sha2", "scan_join")
#: largest Arrow input; bigger ones stall a 1 GiB driver heap
ARROW_MAX_ROWS = 100_000
SCAN_FILES = 4
DIM_ROWS = 1000


def _events(lo: int, hi: int):
    import numpy as np
    import pyarrow as pa

    ids = np.arange(lo, hi, dtype=np.int64)
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ts = (base + (ids % 3) * 86400 + ids % 86400) * 1_000_000
    return pa.table({
        "event_id": ids,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": ids % DIM_ROWS,
        "value": (ids * 7 % 1000).astype(np.float64),
        "body": pa.array([f"event {i} body text {i * 31 % 997}"
                          for i in range(lo, hi)]),
    })


def _write_scans(base: str, rows: list[int]) -> None:
    """A ``SCAN_FILES``-file parquet dataset per row count, plus the
    dimension table the join input reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for n in rows:
        d = os.path.join(base, f"scan_{n}")
        os.makedirs(d)
        step = -(-n // SCAN_FILES)
        for i, lo in enumerate(range(0, n, step)):
            pq.write_table(_events(lo, min(n, lo + step)),
                           os.path.join(d, f"part-{i}.parquet"))
    pq.write_table(pa.table({
        "user_id": pa.array(range(DIM_ROWS), pa.int64()),
        "segment": pa.array([f"seg{u % 17}" for u in range(DIM_ROWS)]),
    }), os.path.join(base, "dim.parquet"))


def _input(spark, kind: str, base: str, n: int):
    from pyspark.sql import functions as F

    if kind == "arrow":
        return spark.createDataFrame(_events(0, n))
    df = spark.read.parquet(os.path.join(base, f"scan_{n}")).select(
        "event_id", "ts", "user_id", "value",
        F.sha2("body", 512).alias("h1"),
        F.sha2(F.concat("body", F.col("event_id").cast("string")),
               512).alias("h2"),
        F.regexp_replace("body", r"[0-9]+", "#").alias("shape"),
    )
    if kind == "scan_join":
        df = df.join(spark.read.parquet(os.path.join(base, "dim.parquet")),
                     "user_id")
    return df


def child(path: str, rows: list[int], inputs: list[str], repeats: int,
          base: str) -> None:
    """Time every (input, rows) on one forced path; one JSON line each."""
    sys.path.insert(0, ROOT)
    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators import sink as sink_mod
    from bytewax_iceberg_connector_spark.operators.partitioning import (
        as_fields,
        partition_key,
    )
    from bytewax_iceberg_connector_spark.session import get_spark

    sink_mod._COALESCE_MAX_BYTES = PATHS[path]
    spark = get_spark(app_name=f"write_crossover-{path}",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spec = [("ts", "day")]
    for kind in inputs:
        for n in rows:
            if kind == "arrow" and n > ARROW_MAX_ROWS:
                continue
            sink = sink_mod.LakeSink(spark, IcebergSinkConfig(
                table_name=f"x.{kind}_{n}",
                warehouse_path=os.path.join(base, f"wh_{path}"),
                num_partitions=1, partition_spec=spec,
            ))
            df = _input(spark, kind, base, n)
            est = sink_mod._plan_bytes(partition_key(df, as_fields(spec)))
            sink.append(df)  # untimed: creates the table, warms the plan
            times = []
            for _ in range(repeats if n < 1_000_000 else 1):
                t0 = time.perf_counter()
                sink.append(df)
                times.append(time.perf_counter() - t0)
            print(json.dumps({
                "path": path, "input": kind, "rows": n, "est_bytes": est,
                "ms": round(statistics.median(times) * 1000, 1),
            }), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", default="1000,10000,100000,1000000")
    ap.add_argument("--inputs", default=",".join(INPUTS))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cpus", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--path", choices=sorted(PATHS), help=argparse.SUPPRESS)
    ap.add_argument("--base", help=argparse.SUPPRESS)
    a = ap.parse_args()
    rows = [int(r) for r in a.rows.split(",")]
    inputs = a.inputs.split(",")
    if a.path:
        child(a.path, rows, inputs, a.repeats, a.base)
        return

    base = tempfile.mkdtemp(prefix="write_crossover_")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(a.cpus),
               SPARK_LOCAL_DIRS=os.path.join(base, "local"))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out: dict[tuple, dict] = {}
    try:
        _write_scans(base, rows)
        for path in PATHS:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--path", path,
                 "--base", base, "--rows", a.rows, "--inputs", a.inputs,
                 "--repeats", str(a.repeats)],
                env=env, capture_output=True, text=True,
            )
            lines = [ln for ln in proc.stdout.splitlines()
                     if ln.startswith("{")]
            if proc.returncode:
                sys.exit(f"{path} run failed:\n{proc.stderr[-2000:]}")
            for ln in lines:
                print(ln)
                r = json.loads(ln)
                out.setdefault((r["input"], r["rows"]), {
                    "est": r["est_bytes"]})[path] = r["ms"]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(f"{'input':<10} {'rows':>8} {'estimate':>12} "
          f"{'exchange ms':>12} {'coalesce ms':>12} {'ratio':>6}")
    for (kind, n), r in out.items():
        est = r["est"]
        shown = f"{est / 1e6:.2f} MB" if est < 1 << 60 else "unbounded"
        print(f"{kind:<10} {n:>8} {shown:>12} {r['exchange']:>12} "
              f"{r['coalesce']:>12} {r['coalesce'] / r['exchange']:>6.2f}")


if __name__ == "__main__":
    main()
