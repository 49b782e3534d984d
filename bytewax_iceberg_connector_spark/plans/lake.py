"""Lake round-trip query (B23): the reference's core write path end-to-end.

A1 (sink) + A6 (hidden partition transforms) + A9 (create-if-missing) as one
verifiable query: write events into a day-partitioned lake table via
LakeSink, read it back, aggregate per partition. The oracle reads the
ORIGINAL parquet — so the check proves the round-trip loses/duplicates
nothing and the partition transform groups exactly like date_trunc.

Uses the parquet-warehouse backend in this container (no Iceberg jar — see
operators/sink.py); the Iceberg backend takes the identical code path via
writeTo/partitionedBy.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IcebergSinkConfig
from ..functions.numeric import dsum, sql_dsum
from ..operators.sink import LakeSink
from ..sources.tables import load_table


def _materialize_and_clean(spark, out, warehouse):
    """Collect the (small) result BEFORE deleting the temp warehouse its
    plan still reads from, then return a plan-free frame. rmtree runs in
    finally: a failing query must not leak /tmp warehouses across
    repeated bench/driver invocations (they accumulated before)."""
    try:
        rows = out.collect()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read-back → per-partition accounting.

    Idempotent per invocation: a fresh warehouse dir per call (the driver may
    run the query callable repeatedly).
    """
    ev = load_table(spark, sf_dir, "events")
    warehouse = tempfile.mkdtemp(prefix="bic_lake_")
    cfg = IcebergSinkConfig(
        table_name="analytics.events_lake",
        warehouse_path=warehouse,
        num_partitions=8,
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    sink.append(ev)
    back = sink.read()
    # partition column round-trips as a directory key; Spark reads the
    # hive-layout value back as a timestamp-typed partition column
    out = (
        back.groupBy(F.col("_p_ts_day").cast("date").alias("p_day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
        )
        .orderBy("p_day")
    )
    # materialize before the temp warehouse can be cleaned up by the OS; the
    # result is small (one row per day partition)
    return _materialize_and_clean(spark, out, warehouse)


_SQL_ROUNDTRIP = """
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS p_day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct_ids
FROM events
GROUP BY p_day
ORDER BY p_day
"""


# ---------------------------------------------------------------------------
# B23b: MERGE (upsert) semantics — the lakehouse mutation path
# ---------------------------------------------------------------------------

def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE on orders: a derived update batch (10% of keys get
    status 'U' and a repriced total) plus an insert batch (new keys), then
    per-status accounting of the merged table.

    Shows the upsert path the reference cannot express (append-only sink);
    with iceberg-spark-runtime this exact statement runs as MERGE INTO with
    file-level pruning — operators/merge.py documents the equivalence.
    """
    from ..operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    updates = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = o.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(42.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    merged = merge_upsert(o, updates.unionByName(inserts), keys=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 4).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


_SQL_MERGE = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N', 42.0, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 0
), merged AS (
  SELECT * FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
  UNION ALL
  SELECT * FROM upd
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 4)} AS total_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# B23c: snapshot time travel — VERSION AS OF through the snapshot log
# ---------------------------------------------------------------------------

_TT_CUTOFF = "2024-01-15"


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two appends (events before/after a day cutoff), then read the table
    PINNED at snapshot 1 and aggregate — proving the time-travel read sees
    exactly the first commit, untouched by the second.

    Runs the snapshot-log parquet backend here (operators/snapshots.py);
    the iceberg backend takes the same call as ``VERSION AS OF``. The
    oracle is the first batch's aggregate on the ORIGINAL table, so any
    leakage from commit 2 (or loss from commit 1) hash-mismatches.
    """
    ev = load_table(spark, sf_dir, "events")
    warehouse = tempfile.mkdtemp(prefix="bic_tt_")
    cfg = IcebergSinkConfig(
        table_name="analytics.events_tt",
        warehouse_path=warehouse,
        num_partitions=4,
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    sink.append(ev.where(F.col("ts") < _TT_CUTOFF))
    sink.append(ev.where(F.col("ts") >= _TT_CUTOFF))
    pinned = sink.read(as_of=1)
    out = (
        pinned.groupBy(F.col("_p_ts_day").cast("date").alias("p_day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
        )
        .orderBy("p_day")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_TIME_TRAVEL = f"""
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS p_day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct_ids
FROM events
WHERE ts < TIMESTAMP '{_TT_CUTOFF} 00:00:00'
GROUP BY p_day
ORDER BY p_day
"""


# ---------------------------------------------------------------------------
# B23d: continuous aggregate — incremental materialized-view refresh
# ---------------------------------------------------------------------------

def continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order rollup maintained as a continuous aggregate
    (operators/matview.py): orders land in a base lake table in two
    appends; the view full-builds after the first, then folds ONLY the
    second append's delta commits into the existing aggregate rows — the
    base table is never re-scanned (pinned by
    tests/test_matview.py::test_incremental_never_rescans_base_files).

    The oracle aggregates the raw orders parquet directly, so the green
    row proves the incremental fold is EXACT, not merely close — which is
    why the view stores additive decimal sums and counts, deriving
    nothing at refresh time.
    """
    from ..operators.matview import ContinuousAggregate

    orders = load_table(spark, sf_dir, "orders")
    warehouse = tempfile.mkdtemp(prefix="bic_cagg_")
    base = LakeSink(spark, IcebergSinkConfig(
        table_name="analytics.orders_base",
        warehouse_path=warehouse, num_partitions=4,
    ))
    agg = LakeSink(spark, IcebergSinkConfig(
        table_name="analytics.orders_by_month",
        warehouse_path=warehouse, num_partitions=1,
    ))
    cagg = ContinuousAggregate(
        base, agg,
        group_exprs={
            "month": F.date_trunc("month", "o_orderdate").cast("date")
        },
        measures={"total_price": "o_totalprice"},
    )
    # total split (r06 adversarial find): a NULL-keyed order must land in
    # a batch, not vanish through both modulus filters
    okey = F.coalesce(F.col("o_orderkey") % 3, F.lit(0))
    base.append(orders.where(okey != 0))
    first = cagg.refresh()
    base.append(orders.where(okey == 0))
    second = cagg.refresh()
    assert first["mode"] == "full" and second["mode"] == "incremental"
    out = (
        cagg.read()
        .select(
            "month",
            F.col("total_price").cast("double").alias("total_price"),
            "n_rows",
        )
        .orderBy("month")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_CAGG = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_rows
FROM orders
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# B23e: change data capture — row-level changelog between snapshots
# ---------------------------------------------------------------------------

def snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC read: orders land (v1), a MERGE reprices every 10th key (v2),
    and ``LakeSink.changes(v1, v2)`` must emit exactly the old versions as
    deletes and the new versions as inserts — nothing for untouched rows
    (the multiset diff cancels them). The oracle derives the same
    changelog from the raw parquet, so the green row certifies the
    diff is row-exact, not just count-plausible.
    """
    orders = load_table(spark, sf_dir, "orders")
    warehouse = tempfile.mkdtemp(prefix="bic_cdc_")
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="analytics.orders_cdc",
        warehouse_path=warehouse, num_partitions=4,
    ))
    sink.append(orders)
    v1 = sink._log.current_id()
    upd = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    sink.merge(upd, keys=["o_orderkey"])
    v2 = sink._log.current_id()
    out = (
        sink.changes(v1, v2)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("change_type")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_CDC = f"""
SELECT 'delete' AS change_type, COUNT(*) AS n,
       {sql_dsum('o_totalprice')} AS total
FROM orders WHERE o_orderkey % 10 = 0
HAVING COUNT(*) > 0
UNION ALL
SELECT 'insert' AS change_type, COUNT(*) AS n,
       {sql_dsum('o_totalprice + 1.0')} AS total
FROM orders WHERE o_orderkey % 10 = 0
HAVING COUNT(*) > 0
ORDER BY change_type
"""
# HAVING guards (r07 empty-corpus sweep): when NO key is divisible by 10
# (and a fortiori on an empty table) the engine's changelog is genuinely
# empty — an unconditional global aggregate would invent n=0 summary rows
# the diff never produced.


# ---------------------------------------------------------------------------
# B23f: manifest-stats file skipping under a range predicate
# ---------------------------------------------------------------------------

def stats_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping end-to-end: orders land in three VALUE-BANDED commits
    (the clustered-ingest layout); a banded read then prunes whole commit
    dirs from the per-commit min/max stats (harvested from parquet
    footers at write — operators/sink.py) BEFORE Spark lists a file, and
    the residual row filter produces the exact oracle answer over the raw
    table.

    What the green row proves: pruning changed which files were read
    (dir-level skip is pinned in tests/test_lake_snapshots.py via
    inputFiles) without changing any answer — the Iceberg manifest-
    metrics contract on the always-available backend. Scale: the stats
    probe is O(live commits) metadata reads on the driver; the scan cost
    tracks the selected band, not the table.
    """
    orders = load_table(spark, sf_dir, "orders")
    warehouse = tempfile.mkdtemp(prefix="bic_skip_")
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="analytics.orders_banded",
        warehouse_path=warehouse, num_partitions=4,
    ))
    for lo, hi in ((0, 150000), (150000, 300000), (300000, 10**9)):
        sink.append(
            orders.where((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi))
        )
    pruned = sink.read(prune={"o_totalprice": (160000.0, 260000.0)})
    out = (
        pruned.where(F.col("o_totalprice").between(160000.0, 260000.0))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_STATS_SKIP = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
WHERE o_totalprice BETWEEN 160000.0 AND 260000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# B23h: partition evolution — spec change mid-history, one seamless scan
# ---------------------------------------------------------------------------


def partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution end-to-end: half the events land under a
    day(ts) spec, the spec evolves to identity(event_type) — a
    metadata-only operation, no rewrite — and the second half lands under
    the new layout. One read() then scans ACROSS the spec boundary
    (per-commit spec ids, union with null-fill on layout columns — how
    Iceberg plans scans over evolved tables) and must account for every
    row exactly once; per-commit-era accounting proves both halves.

    The oracle reproduces the same split (event_id parity) straight from
    the source table, so any row lost/duplicated at the spec boundary
    diverges. Citation: Iceberg spec §Partition Evolution;
    operators/sink.py::evolve_partition_spec.

    r06/r07 adversarial hardening: the split key is
    ``coalesce(pmod(event_id, 2), 0)`` (a NULL-keyed row must land in a
    batch and a NEGATIVE-keyed row must not return residue −1 and vanish
    through both parity filters — sign-safe pmod, oracle
    ``((x % 2) + 2) % 2``), and the era comes from the ``_spec_id`` METADATA
    column (``read(with_spec_id=True)``, Iceberg's own metadata column) —
    classifying by ``_p_ts_day IS NOT NULL`` misattributed day-spec rows
    whose partition VALUE is legitimately NULL (a NULL-ts event).
    """
    ev = load_table(spark, sf_dir, "events")
    warehouse = tempfile.mkdtemp(prefix="bic_evolve_")
    cfg = IcebergSinkConfig(
        table_name="analytics.events_evolved",
        warehouse_path=warehouse,
        num_partitions=4,
        partition_spec=[("ts", "day")],
    )
    batch = F.coalesce(F.pmod(F.col("event_id"), 2), F.lit(0))
    sink = LakeSink(spark, cfg)
    sink.append(ev.where(batch == 0))
    sink.evolve_partition_spec([("event_type", "identity")])
    sink.append(ev.where(batch == 1))
    back = sink.read(with_spec_id=True)
    out = (
        back.withColumn(
            "era",
            F.when(F.col("_spec_id") == 0, "day_spec").otherwise(
                "type_spec"
            ),
        )
        .groupBy("era")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("era")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_EVOLUTION = """
SELECT CASE WHEN COALESCE(((event_id % 2) + 2) % 2, 0) = 0
            THEN 'day_spec' ELSE 'type_spec' END AS era,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_distinct_ids,
       COUNT(DISTINCT event_type) AS n_types
FROM events
GROUP BY era
ORDER BY era
"""


# ---------------------------------------------------------------------------
# B23i: additive schema evolution — old rows null-fill, one seamless scan
# ---------------------------------------------------------------------------


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution end-to-end (the upgrade over the
    reference's "Static schemas only", reference README.md:68): half the
    events commit under the original schema, the second half commits with
    an ADDED ``quality`` column, and one plain ``read()`` scan — its
    schema the union of the commits' recorded fields — surfaces both
    eras: nulls for pre-evolution rows, exactly Iceberg's add-column
    semantics. Per-type accounting of row counts, null counts,
    and the decimal-exact quality mass proves no row is lost, duplicated,
    or mis-filled at the schema boundary.

    The oracle reproduces the same parity split from the source table.

    Batch split + fill contracts (r06/r07 adversarial finds): the split
    key is ``coalesce(pmod(event_id, 2), 0)`` — a NULL-keyed row lands in
    the FIRST batch and a negative-keyed row gets a non-negative residue,
    instead of being silently dropped by both parity filters; and
    the evolved column is written as ``coalesce(value, 0) * 2`` so
    ``quality IS NULL`` is a faithful pre-evolution marker (a raw
    ``value * 2`` made every post-evolution NULL-value row masquerade as
    pre-evolution in the merged read).
    """
    ev = load_table(spark, sf_dir, "events")
    warehouse = tempfile.mkdtemp(prefix="bic_schevo_")
    cfg = IcebergSinkConfig(
        table_name="analytics.events_schevo",
        warehouse_path=warehouse,
        num_partitions=4,
    )
    batch = F.coalesce(F.pmod(F.col("event_id"), 2), F.lit(0))
    sink = LakeSink(spark, cfg)
    sink.append(ev.where(batch == 0))
    sink.append(
        ev.where(batch == 1)
        .withColumn("quality", F.coalesce(F.col("value"), F.lit(0.0)) * 2)
    )
    back = sink.read()
    out = (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("quality").isNull().cast("long"))
            .cast("long")
            .alias("n_pre_evolution"),
            dsum("coalesce(quality, 0D)").alias("quality_mass"),
        )
        .orderBy("event_type")
    )
    return _materialize_and_clean(spark, out, warehouse)


_SQL_SCHEMA_EVOLUTION = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN COALESCE(((event_id % 2) + 2) % 2, 0) = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pre_evolution,
       {sql_dsum(
           "CASE WHEN COALESCE(((event_id % 2) + 2) % 2, 0) = 1"
           " THEN COALESCE(value, 0) * 2 ELSE 0 END"
       )}
         AS quality_mass
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# compaction_planning — small-file report + rewrite plan from commit metadata
# ---------------------------------------------------------------------------

_COMPACT_SLICES = 6
_COMPACT_TARGET_ROWS = 1000


def compaction_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the maintenance report behind
    Iceberg's ``rewrite_data_files``: build a lake table from
    ``_COMPACT_SLICES`` successive small appends, then report per commit
    the exact row count, the data-file count, rows per file, whether the
    commit is below the ``_COMPACT_TARGET_ROWS``-per-file target, and how
    many files a rewrite would produce.

    METADATA-ONLY planning: rows come from parquet footers of each
    commit's files (the same footer harvest ``_write_commit_stats`` does;
    Iceberg reads the identical numbers from manifest file-metrics) — the
    planner never scans data, so at 100 TB the plan costs |files| footer
    reads, not a table scan.

    The oracle derives the WHOLE report from the source table alone
    (commit i holds ``pmod(event_id, slices) = i``; round-robin fan-out writes
    exactly ``least(num_partitions, n_rows)`` DATA files — consecutive
    round-robin from the single input split covers min(parts, rows)
    outputs; at larger inputs every output gets rows), so the green row
    PROVES two writer contracts end-to-end: the list_parts fan-out
    (reference connector.py list_parts, A2) produces exactly the declared
    data-file count, and the footers account for every ingested row.
    """
    import pyarrow.parquet as papq

    ev = load_table(spark, sf_dir, "events")
    warehouse = tempfile.mkdtemp(prefix="bic_compact_")
    try:
        cfg = IcebergSinkConfig(
            table_name="analytics.events_small",
            warehouse_path=warehouse,
            num_partitions=4,
        )
        sink = LakeSink(spark, cfg)
        for i in range(_COMPACT_SLICES):
            # NULL event_ids match no residue and are excluded from every
            # slice (mirrored by the oracle's IS NOT NULL); coalesce(1)
            # pins the deterministic file-count contract — round-robin
            # from ONE upstream split covers exactly min(parts, rows)
            # outputs, whereas multi-split inputs start each split's
            # round-robin at its own offset and small slices could leave
            # outputs empty. The sink's own repartition fan-out (the
            # contract under proof) runs downstream of it.
            sink.append(
                ev.where(F.pmod(F.col("event_id"), _COMPACT_SLICES) == i).coalesce(1)
            )
        log = sink._log
        rows, prev = [], set()
        for i, s in enumerate(log.snapshots()):
            new = [c for c in s["live"] if c not in prev]
            prev = set(s["live"])
            files = []
            for c in new:
                for root, _dirs, names in os.walk(
                    os.path.join(log.data_dir, c)
                ):
                    files += [
                        os.path.join(root, n)
                        for n in names
                        if n.endswith(".parquet")
                    ]
            # DATA files only (≥1 row): Spark's writer always emits task
            # 0's file even when empty (schema carrier) — Iceberg's
            # manifests would not register a zero-record file as a data
            # file, and neither does this planner
            per_file = [
                papq.ParquetFile(p).metadata.num_rows for p in files
            ]
            n_rows = sum(per_file)
            n_files = sum(1 for r in per_file if r > 0)
            if n_rows == 0:
                # empty slice (degenerate corpus): the oracle's GROUP BY
                # has no such group — skip the empty commit symmetrically
                continue
            avg = n_rows // n_files if n_files else 0
            rows.append(
                (
                    i,
                    n_rows,
                    n_files,
                    avg,
                    avg < _COMPACT_TARGET_ROWS,
                    max(1, -(-n_rows // _COMPACT_TARGET_ROWS)),
                )
            )
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "commit_id BIGINT, n_rows BIGINT, n_files BIGINT, "
        "avg_rows_per_file BIGINT, needs_compaction BOOLEAN, "
        "planned_files BIGINT",
    ).orderBy("commit_id")


_SQL_COMPACT = f"""
WITH c AS (
  SELECT ((event_id % {_COMPACT_SLICES}) + {_COMPACT_SLICES})
         % {_COMPACT_SLICES} AS commit_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events WHERE event_id IS NOT NULL GROUP BY 1
)
SELECT CAST(commit_id AS BIGINT) AS commit_id, n_rows,
       CAST(LEAST(4, n_rows) AS BIGINT) AS n_files,
       CAST(n_rows // LEAST(4, n_rows) AS BIGINT) AS avg_rows_per_file,
       (n_rows // LEAST(4, n_rows)) < {_COMPACT_TARGET_ROWS}
         AS needs_compaction,
       CAST(GREATEST(1, CEIL(n_rows / {_COMPACT_TARGET_ROWS}.0)) AS BIGINT)
         AS planned_files
FROM c ORDER BY commit_id
"""


QUERIES = {
    "iceberg_roundtrip": iceberg_roundtrip,
    "compaction_planning": compaction_planning,
    "partition_evolution": partition_evolution,
    "schema_evolution": schema_evolution,
    "stats_skipping_scan": stats_skipping_scan,
    "merge_upsert_orders": merge_upsert_orders,
    "snapshot_time_travel": snapshot_time_travel,
    "continuous_aggregate": continuous_aggregate,
    "snapshot_changes": snapshot_changes,
}
ORACLE = {
    "iceberg_roundtrip": _SQL_ROUNDTRIP,
    "compaction_planning": _SQL_COMPACT,
    "partition_evolution": _SQL_EVOLUTION,
    "schema_evolution": _SQL_SCHEMA_EVOLUTION,
    "stats_skipping_scan": _SQL_STATS_SKIP,
    "merge_upsert_orders": _SQL_MERGE,
    "snapshot_time_travel": _SQL_TIME_TRAVEL,
    "continuous_aggregate": _SQL_CAGG,
    "snapshot_changes": _SQL_CDC,
}


# ---------------------------------------------------------------------------
# B23c (staged for r10): snapshot-aware near-dup — new crawl vs PUBLISHED lake
# ---------------------------------------------------------------------------

#: which documents form the incoming crawl batch: pmod(doc_id, 3) == 1
#: (sign-safe — the negative-ids sweep class). NULL-id docs are excluded
#: from BOTH sides: an unaddressable document can neither be published
#: nor deduplicated against.
_SNAP_BATCH_MOD = 3
_SNAP_BATCH_RESIDUE = 1

# single source of truth for the verify threshold on BOTH engine and oracle
# sides (r09 ADVICE: a hard-coded 0.8 in the rf-string would silently split
# them if plans/llm.py ever moved the constant)
from .llm import _JACCARD_THRESHOLD as _SNAP_JACCARD  # noqa: E402


def dedup_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-aware incremental near-dup: a new crawl batch is checked
    against a PUBLISHED lake snapshot — the composition a production
    pipeline actually runs (``dedup_incremental_lsh`` assumes both sides
    sit in one table; here the history side is ``LakeSink.read(as_of=)``
    and the batch side is ``read_incremental``, so the LAKE LINEAGE — not
    a column predicate — decides what is new).

    Flow: publish history (commit 1) → land the crawl batch (commit 2) →
    history := read(as_of=1), incoming := read_incremental(1) → banded
    MinHash index per side (the shared ``_minhash_band_index``, band
    parameters identical to the self-join path by construction) →
    batch-bands × history-bands on the band key → exact shingle Jaccard
    ≥ 0.8 verify → per-source admission manifest.

    Oracle: the exact cross-pair n-gram Jaccard over the SAME deterministic
    split recomputed from the raw table (recall ≈ 1 at these band
    parameters — the dedup_incremental_lsh argument), which also proves
    the lake round-trip fed the dedup losslessly.

    Scale: the history band index is what you persist IN the lake and
    amortize across daily batches (16 narrow rows/doc); the batch side is
    batch-sized; the exact verify touches only bucket-mates; snapshot
    isolation means a concurrent compaction of history never double-feeds
    the join.
    """
    from .llm import _JACCARD_THRESHOLD, _minhash_band_index

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    is_batch = (
        F.pmod(F.col("doc_id"), F.lit(_SNAP_BATCH_MOD))
        == _SNAP_BATCH_RESIDUE
    )
    warehouse = tempfile.mkdtemp(prefix="bic_snapdd_")
    persisted = []  # band-index frames to unpersist on every exit path
    try:
        cfg = IcebergSinkConfig(
            table_name="analytics.docs_lake",
            warehouse_path=warehouse,
            num_partitions=4,
        )
        sink = LakeSink(spark, cfg)
        sink.append(docs.where(~is_batch))   # commit 1: published corpus
        # capture the REAL head id instead of assuming it is 1: snapshot
        # ids are sequential on the parquet backend but random longs on
        # the Iceberg runtime (r09 ADVICE — backend portability)
        history_snap = sink.current_snapshot_id()
        sink.append(docs.where(is_batch))    # commit 2: the crawl landing
        history = sink.read(as_of=history_snap)
        incoming = sink.read_incremental(history_snap)
        hb_base, hb_banded, _ = _minhash_band_index(
            spark, sf_dir, docs=history
        )
        persisted += [hb_base, hb_banded]
        nb_base, nb_banded, _ = _minhash_band_index(
            spark, sf_dir, docs=incoming
        )
        persisted += [nb_base, nb_banded]
        cand = (
            nb_banded.alias("a")
            .join(hb_banded.alias("b"), F.col("a.bk") == F.col("b.bk"))
            .select(
                F.col("a.doc_id").alias("doc_n"),
                F.col("b.doc_id").alias("doc_h"),
            )
            .dropDuplicates()
        )
        sa = nb_base.select(
            F.col("doc_id").alias("doc_n"), F.col("sh").alias("sa")
        )
        sb = hb_base.select(
            F.col("doc_id").alias("doc_h"), F.col("sh").alias("sb")
        )
        inter = F.size(F.array_intersect("sa", "sb"))
        union = F.size("sa") + F.size("sb") - inter
        flagged = (
            cand.join(sa, "doc_n").join(sb, "doc_h")
            .where((inter / union) >= _JACCARD_THRESHOLD)
            .select(F.col("doc_n").alias("doc_id"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        # DISTINCT (doc_id, source): a byte-identical re-ingested batch
        # row is one admitted document (the incr_lsh r08 contract)
        batch_docs = incoming.select("doc_id", "source").dropDuplicates()
        out = (
            batch_docs.join(flagged, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n_batch"),
                F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias(
                    "n_near_dup_of_history"
                ),
            )
            .orderBy("source")
        )
        # materialize THROUGH the persisted band frames, then unpersist;
        # _materialize_and_clean also rmtrees the warehouse on success
        return _materialize_and_clean(spark, out, warehouse)
    finally:
        # every exit path: drop the persisted frames and the warehouse
        # (a failing query must not leak /tmp across bench/driver runs)
        for f in persisted:
            try:
                f.unpersist()
            except Exception:
                pass
        shutil.rmtree(warehouse, ignore_errors=True)


_SQL_DEDUP_SNAPSHOT = rf"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')
           AS tokens
  FROM documents WHERE doc_id IS NOT NULL
), sh AS (
  SELECT DISTINCT doc_id,
         tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS s
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(tokens)-2, 0))) AS i)
), cross_pairs AS (
  SELECT a.doc_id AS doc_n, b.doc_id AS doc_h, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE ((a.doc_id % {_SNAP_BATCH_MOD}) + {_SNAP_BATCH_MOD})
          % {_SNAP_BATCH_MOD} = {_SNAP_BATCH_RESIDUE}
    AND ((b.doc_id % {_SNAP_BATCH_MOD}) + {_SNAP_BATCH_MOD})
          % {_SNAP_BATCH_MOD} <> {_SNAP_BATCH_RESIDUE}
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), flagged AS (
  SELECT DISTINCT doc_n AS doc_id
  FROM cross_pairs
  JOIN sizes na ON na.doc_id = cross_pairs.doc_n
  JOIN sizes nb ON nb.doc_id = cross_pairs.doc_h
  WHERE inter * 1.0 / (na.sz + nb.sz - inter) >= {_SNAP_JACCARD}
), batch_docs AS (
  SELECT DISTINCT doc_id, source FROM documents
  WHERE doc_id IS NOT NULL
    AND ((doc_id % {_SNAP_BATCH_MOD}) + {_SNAP_BATCH_MOD})
          % {_SNAP_BATCH_MOD} = {_SNAP_BATCH_RESIDUE}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(COALESCE(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_near_dup_of_history
FROM batch_docs bd LEFT JOIN flagged f USING (doc_id)
GROUP BY source ORDER BY source
"""

# Registered in r10 (r09 VERDICT item 1): staged through the r09 gate so it
# would not displace the r05-stale rotation window, registered now — it
# enters the window at the never-checked tier.
QUERIES["dedup_snapshot"] = dedup_snapshot
ORACLE["dedup_snapshot"] = _SQL_DEDUP_SNAPSHOT
