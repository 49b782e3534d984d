"""load_table type-normalization contract.

The driver regenerates the test parquet between rounds and has shipped the
SAME logical column under different physical annotations (events.ts:
timestamp[ns] in round 2 → timestamp[us] in round 3). Spark 4 reads
annotation-free timestamp[us] as TIMESTAMP_NTZ, which time-arithmetic
builtins (unix_micros, window, …) reject — every query must therefore see
ONE stable timestamp type regardless of what the generator emitted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytewax_iceberg_connector_spark.sources.tables import TABLE_NAMES, load_table
from _sparkjobs import jobs_run_by


def test_no_table_exposes_timestamp_ntz(spark, sf_dir):
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not ntz, f"{name}: NTZ columns leaked through load_table: {ntz}"


def test_events_ts_supports_time_arithmetic(spark, sf_dir):
    """unix_micros is the canary: it rejects TIMESTAMP_NTZ outright."""
    df = load_table(spark, sf_dir, "events")
    n = df.select(F.expr("unix_micros(ts)").alias("us")).where(F.col("us") > 0).count()
    assert n > 0


def test_ntz_cast_is_value_preserving_under_utc(spark, tmp_path):
    """Writing a naive timestamp and reading it back through the cast must
    not shift wall-clock values (session tz is pinned UTC)."""
    import datetime as dt

    p = str(tmp_path / "events.parquet")
    want = dt.datetime(2024, 3, 1, 12, 34, 56)
    spark.createDataFrame(
        [(1, want)], "event_id long, ts timestamp_ntz"
    ).write.parquet(p)
    got = load_table(spark, str(tmp_path), "events").collect()[0]
    assert dict(got.asDict())["ts"] == want


def test_load_vectors_modal_dim_memo_tracks_corpus_changes(spark, tmp_path):
    """The quarantine's modal-dim literal is memoized on the parquet file
    stamp; a REWRITTEN corpus (new dim) must recompute it — a stale dim
    would silently quarantine every row of the new corpus."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.sources.tables import load_vectors

    def write(dim, n=6):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        [[float(i + j) for j in range(dim)] for i in range(n)],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([0] * n, pa.int32()),
                }
            ),
            tmp_path / "embeddings.parquet",
        )

    write(dim=8)
    assert load_vectors(spark, str(tmp_path)).count() == 6
    time.sleep(0.01)  # ensure a distinct mtime_ns
    write(dim=4)
    # stale memo would filter size==8 and return 0 rows
    got = load_vectors(spark, str(tmp_path))
    assert got.count() == 6
    assert len(got.select("embedding").first()[0]) == 4


def test_ns_loader_pre_epoch_truncation_matches_duckdb(spark, tmp_path):
    """The ns→µs read path divides by 1000 with Spark's `div` (truncation
    toward zero). DuckDB's ns-parquet read truncates toward zero too —
    including for PRE-EPOCH (negative) nanosecond values, where a floor
    division would land one microsecond earlier. Pinned on both signs so
    a loader rewrite can't silently shift pre-1970 timestamps."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.sources.tables import load_table

    src = pq.read_table("/root/testdata/sf0.001/events.parquet").slice(0, 3)
    fields, cols = [], {}
    for f in src.schema:
        if f.name == "ts":
            fields.append(pa.field("ts", pa.timestamp("ns")))
            cols["ts"] = pa.array(
                [-1500, 1500, -999_999_999], type=pa.timestamp("ns")
            )
        else:
            fields.append(f)
            cols[f.name] = src.column(f.name)
    pq.write_table(
        pa.table(cols, schema=pa.schema(fields)),
        tmp_path / "events.parquet",
    )

    got = sorted(
        r.ts
        for r in load_table(spark, str(tmp_path), "events")
        .select("ts")
        .collect()
    )
    con = duckdb.connect()
    try:
        want = sorted(
            r[0]
            for r in con.execute(
                "SELECT CAST(ts AS TIMESTAMP) FROM "
                f"read_parquet('{tmp_path}/events.parquet')"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want


def test_widen_for_kernel_width_tracks_kernel_work(spark, sf_dir):
    """r13 calibration contract: the kernel fan-out is sized to the ROW
    COUNT (ceil(rows / _KERNEL_ROWS_PER_TASK), capped at
    defaultParallelism), never blindly to the core count — the r12
    unconditional fan-out made 35 ms tasks whose fixed cost dominated.
    The bytes guard must refuse to round-robin a payload heavier than
    128 MB per target partition, and a frame already at/above the target
    width must pass through unchanged."""
    from bytewax_iceberg_connector_spark.sources.tables import (
        _KERNEL_ROWS_PER_TASK,
        table_stats,
        widen_for_kernel,
    )

    dp = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_rows, n_bytes = table_stats(sf_dir, "documents")
    assert n_rows > 0 and n_bytes > 0

    want = min(dp, max(1, -(-n_rows // _KERNEL_ROWS_PER_TASK)))
    widened = widen_for_kernel(docs, n_rows, n_bytes)
    if want > 1:
        assert widened.rdd.getNumPartitions() == want
    # bytes guard: a payload that would exceed 128 MB per target
    # partition must NOT be shuffled
    assert (
        widen_for_kernel(docs, n_rows, want * 129 * 1024 * 1024)
        is docs
    )
    # rows-derived width of 1 is a no-op
    assert widen_for_kernel(docs, 1, 10) is docs
    # already-wide frames pass through (the at-scale no-op guard)
    wide = docs.repartition(dp)
    assert widen_for_kernel(wide, n_rows, n_bytes) is wide


def test_table_stats_footer_only_and_stamp_tracked(spark, tmp_path):
    """table_stats must read parquet FOOTER metadata (rows, bytes) and
    re-read when the file changes (stamp-keyed memo, the modal-dim
    precedent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.sources.tables import table_stats

    pq.write_table(
        pa.table({"doc_id": list(range(7)), "text": ["x"] * 7}),
        tmp_path / "documents.parquet",
    )
    rows, nbytes = table_stats(str(tmp_path), "documents")
    assert rows == 7 and nbytes > 0
    pq.write_table(
        pa.table({"doc_id": list(range(11)), "text": ["y"] * 11}),
        tmp_path / "documents.parquet",
    )
    rows2, _ = table_stats(str(tmp_path), "documents")
    assert rows2 == 11


def _write_ns_events(path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([-1500, 1500, 1_700_000_000_123_456_789],
                           type=pa.timestamp("ns")),
        }),
        path,
    )


def test_repeat_load_of_unchanged_corpus_runs_no_job(spark, sf_dir, tmp_path):
    """The inferred schema is memoized on the file stamp: once a table
    has been loaded, loading it again runs no Spark job (no footer
    inference), and the ns-timestamp normalisation still applies to the
    memoized read."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name)
    assert jobs_run_by(
        spark, lambda: [load_table(spark, sf_dir, n) for n in TABLE_NAMES]
    ) == 0

    _write_ns_events(tmp_path / "events.parquet")
    first = load_table(spark, str(tmp_path), "events")
    memo = []
    assert jobs_run_by(
        spark, lambda: memo.append(load_table(spark, str(tmp_path), "events"))
    ) == 0
    assert memo[0].dtypes == first.dtypes == [
        ("event_id", "bigint"), ("ts", "timestamp")]
    assert sorted(memo[0].collect()) == sorted(first.collect())


def test_rewritten_table_reinfers_its_schema(spark, tmp_path):
    """A rewritten file has a new stamp, so the next load infers its
    schema again: a stale memo would hide the new column."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int64())}), p)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    time.sleep(0.01)  # ensure a distinct mtime_ns
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "text": pa.array(["a", "b"])}),
        p,
    )
    got = []
    assert jobs_run_by(
        spark,
        lambda: got.append(load_table(spark, str(tmp_path), "documents")),
    ) >= 1
    assert got[0].columns == ["doc_id", "text"]
    assert got[0].count() == 2
