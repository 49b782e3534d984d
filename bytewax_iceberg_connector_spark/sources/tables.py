"""Parquet table sources for the driver-generated test corpus.

The reference has NO read path at all (it is sink-only; see SURVEY.md §2
"Not present in the reference"). All scans in this engine are native Spark
parquet scans so that Catalyst pushes predicates/projections into the reader
(``PushedFilters`` / ``ReadSchema`` in .explain) and partition/file pruning
comes for free when the same tables live in Iceberg.

Scale notes: never materialize or cache here — these loaders return lazy
DataFrames; column pruning only works if callers ``select`` narrow and let
Catalyst prune the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import ensure_engine_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: tables small enough to broadcast at ANY scale factor (TPC-H fixes region=5,
#: nation=25 rows; supplier stays tiny in this corpus). Join sides built from
#: these should be wrapped in F.broadcast().
BROADCAST_TABLES = frozenset({"region", "nation"})


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: rows of kernel input per widened task. Calibrated on the md5 shingle
#: kernel (the dominant consumer): ~4.5 k docs/s/core serial at sf0.1, so
#: 512 docs ≈ 110 ms of kernel work per task — enough to amortize task
#: scheduling + the Arrow boundary, small enough that any corpus beyond
#: toy scale still fans out to every core (r13: the r12 unconditional
#: defaultParallelism fan-out over-split small inputs — 5 k docs across
#: 32 tasks = 35 ms/task — and the per-task fixed cost made the dedup
#: family 2x SLOWER at 32 cores than at 8; see OPTIMIZATION_r13.md).
_KERNEL_ROWS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_KERNEL_ROWS_PER_TASK", "512")
)
#: never round-robin a kernel input whose payload exceeds this many bytes
#: per TARGET partition: a frame that fat is not a "single-row-group
#: scan serializing a kernel", it is a real table whose scan parallelism
#: should come from maxPartitionBytes — shuffling the full text payload
#: to widen it would cost more than the kernel time saved (guide §2.3:
#: don't move heavy bytes to make a placement decision).
_WIDEN_MAX_PART_BYTES = int(
    os.environ.get("SPARK_GRAFT_WIDEN_MAX_PART_BYTES", str(128 * 1024 * 1024))
)


def widen_for_kernel(
    df: DataFrame,
    n_rows: int | None = None,
    n_bytes: int | None = None,
) -> DataFrame:
    """Round-robin a NARROW frame before a CPU-heavy Arrow kernel, sized
    to the KERNEL WORK, not the core count (r12 introduced; r13
    recalibrated per the r12 verdict).

    A single-row-group parquet file scans as ONE task no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say (splits beyond row-group
    boundaries come back empty), so a per-row kernel applied directly to
    the scan runs serial while every other core idles — the
    bytes-per-task heuristic undercounts vectorized-Python stage cost by
    orders of magnitude (same rationale as the AQE minPartitionSize
    floor in session.py, which covers only POST-SHUFFLE stages).

    Width = ``min(defaultParallelism, ceil(n_rows / _KERNEL_ROWS_PER_TASK))``
    — scale-adaptive by construction: a corpus with millions of rows
    widens to every core; a 5 k-row bench corpus widens to ~10 tasks of
    ~110 ms kernel work each instead of 32 tasks of 35 ms (the r12 shape,
    measured 2x slower at 32 cores cold because per-task fixed cost
    dominated). Callers pass ``n_rows``/``n_bytes`` from parquet FOOTER
    metadata (``table_stats`` — no job, no scan); without a row count the
    width falls back to defaultParallelism (the r12 behavior).

    Guards: (a) a frame already at/above the target width (any real
    at-scale scan, or a pending wide shuffle) passes through untouched;
    (b) a frame whose payload exceeds ``_WIDEN_MAX_PART_BYTES`` per
    target partition is never shuffled — at that size the scan itself
    provides parallelism and round-robining the payload would cost more
    than it buys. Together these make the no-op-at-scale claim hold by
    bytes, not just by partition count. Call it on the NARROW projection
    (the columns the kernel needs) so scan-level column pruning is
    preserved.
    """
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    width = dp
    if n_rows is not None:
        width = min(dp, max(1, -(-int(n_rows) // _KERNEL_ROWS_PER_TASK)))
    if width <= 1:
        return df
    if n_bytes is not None and int(n_bytes) > width * _WIDEN_MAX_PART_BYTES:
        return df
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


_TABLE_STATS_MEMO: dict[tuple, tuple[int, int]] = {}


def table_stats(sf_dir: str, name: str) -> tuple[int, int]:
    """(row_count, byte_size) of a corpus table from parquet FOOTER
    metadata only — no Spark job, no data read; memoized on the same
    file stamp as the modal-dim memo so a regenerated corpus can never
    serve stale stats. Drives kernel fan-out calibration
    (``widen_for_kernel``); at 100 TB this is the table-metadata lookup
    a real deployment reads from the catalog."""
    key = _table_key(sf_dir, name)
    if key not in _TABLE_STATS_MEMO:
        import pyarrow.parquet as pq

        root = os.path.join(sf_dir, f"{name}.parquet")
        paths = []
        if os.path.isfile(root):
            paths.append(root)
        else:
            for base, _dirs, files in os.walk(root):
                paths.extend(
                    os.path.join(base, f)
                    for f in files
                    if f.endswith(".parquet")
                )
        rows = nbytes = 0
        for p in paths:
            rows += pq.ParquetFile(p).metadata.num_rows
            nbytes += os.path.getsize(p)
        _TABLE_STATS_MEMO[key] = (rows, nbytes)
    return _TABLE_STATS_MEMO[key]


_SCHEMA_MEMO: dict[tuple, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes types to engine conventions.

    The parquet schema Spark infers (one job over the footers) is
    memoized on the table's file stamp, like ``table_stats`` and the
    modal dim, and every later load of the unchanged table passes it to
    ``spark.read.schema``: no inference job, the way a table-format
    reader takes its schema from table metadata rather than data files.

    - ``events.ts`` as parquet timestamp[ns]: Spark reads it as a long
      (nanosAsLong) and we truncate to microseconds — identical to DuckDB's
      TIMESTAMP_NS→TIMESTAMP cast, so oracle comparisons line up. Integer
      `div` (not `/`) avoids double-precision loss on epoch-nanos.
    - parquet timestamp[us] without timezone: Spark 4 reads it as
      TIMESTAMP_NTZ, which time-arithmetic builtins (``unix_micros`` et al.)
      reject. Cast every NTZ column to the session type — with the engine's
      pinned UTC session timezone this is value-identical to DuckDB's naive
      TIMESTAMP read, and it keeps query code on ONE timestamp type no
      matter which physical annotation the test-data generator emitted.
    """
    ensure_engine_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _table_key(sf_dir, name)
    if key in _SCHEMA_MEMO:
        df = spark.read.schema(_SCHEMA_MEMO[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


#: DuckDB twin of load_vectors' validity contract — prepend inside WITH(...)
#: and read FROM embeddings_valid. Kept beside the loader so the two sides
#: of the contract cannot drift.
SQL_VALID_EMB = """embeddings_valid AS (
  SELECT * FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = (
      SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL
      GROUP BY 1 ORDER BY COUNT(*) DESC, 1 DESC LIMIT 1)
)"""

#: DuckDB twin of nonzero=True (cosine consumers): excludes zero vectors.
SQL_NONZERO_EMB = "len(list_filter(embedding, x -> x <> 0)) > 0"


def load_vectors(
    spark: SparkSession, sf_dir: str, nonzero: bool = False
) -> DataFrame:
    """The ``embeddings`` table quarantined to the VALID-VECTOR contract —
    what every vector operator (similarity, ANN, dedup, clustering,
    embedding audits) reads instead of the raw table.

    Valid := ``vec_id`` IS NOT NULL (results must be addressable),
    ``embedding`` IS NOT NULL, and ``size(embedding)`` equals the corpus's
    MODAL dimension (ties break to the larger dim). Schema drift at 100 TB
    WILL produce NULL/empty/ragged vectors, and before this contract one
    such row crashed every GEMM kernel mid-job (ragged numpy batch — r06
    adversarial-sweep find); quarantining at the source is the only place
    all ~12 consumers inherit the fix. ``nonzero=True`` additionally drops
    zero vectors — cosine consumers use it because the two engines
    disagree pathologically on 0/0 scores (numpy NaN sorts LAST under
    lexsort; DuckDB NaN sorts as the LARGEST double, i.e. rank 1).

    The modal dim is resolved ONCE per corpus (memoized on the parquet
    file stamp — the BPE corpus-stamp precedent) and injected as a
    LITERAL predicate, so every consumer's plan is a scan-level filter
    with no extra pass or join (an A/B with a lazy broadcast-join dim
    lookup measured similarity_topk 0.73 → 1.63 s at sf0.1 — 2× for a
    validity check). This is exactly what a production deployment does:
    the dim lives in table metadata, the filter is a literal.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    d = _modal_dim(spark, sf_dir)
    if d is None:  # no valid vectors at all
        out = emb.where(F.lit(False))
    else:
        out = emb.where(F.size("embedding") == d)
    if nonzero:
        out = out.where(F.exists("embedding", lambda x: x != 0))
    return out


_MODAL_DIM_MEMO: dict[tuple, int | None] = {}


def _table_stamp(sf_dir: str, name: str) -> tuple:
    """Identity stamp of a corpus parquet (file or directory): sorted
    (relpath, size, mtime_ns) tuples — a changed corpus changes the
    stamp, so metadata memos (modal dim, table stats) can never serve
    stale values."""
    root = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns),)
    entries = []
    for base, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            entries.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def _table_key(sf_dir: str, name: str) -> tuple:
    """Memo key of one version of a corpus table: its schema, footer
    stats and modal dim are memoized on it."""
    return (os.path.abspath(sf_dir), name, _table_stamp(sf_dir, name))


def _modal_dim(spark: SparkSession, sf_dir: str) -> int | None:
    """Most frequent embedding dimension (ties → larger), one bounded
    1-row aggregate per DISTINCT corpus per process."""
    key = _table_key(sf_dir, "embeddings")
    if key not in _MODAL_DIM_MEMO:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("embedding").isNotNull())
            .groupBy(F.size("embedding").alias("_d"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.desc("_n"), F.desc("_d"))
            .limit(1)
            .collect()
        )
        _MODAL_DIM_MEMO[key] = int(row[0]["_d"]) if row else None
    return _MODAL_DIM_MEMO[key]


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Expose the corpus tables as temp views so the FULL engine surface
    is reachable from plain ``spark.sql`` — same lazy scans, same
    pushdown; the view layer adds nothing physical."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
