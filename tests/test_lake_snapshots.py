"""Snapshot-log contract tests: atomic commits, time travel, rollback,
MERGE copy-on-write, sort order, commit-conflict retry, streaming
exactly-once batch dedup, and the batch_size source-admission cap.

These run against the parquet-warehouse backend and prove the SAME
contract the iceberg backend provides natively (tests/test_iceberg_backend.py
exercises that branch whenever iceberg-spark-runtime is on the classpath)."""

import contextlib
import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators.sink import LakeSink
import time
from _sparkjobs import jobs_run_by

from bytewax_iceberg_connector_spark.operators.snapshots import (
    CommitConflict,
    SnapshotLog,
)


@pytest.fixture()
def batches(spark):
    def mk(lo, hi):
        return spark.createDataFrame(
            [
                Row(event_id=i, ts=dt.datetime(2024, 1, 1 + i % 3, 10), v=float(i))
                for i in range(lo, hi)
            ]
        )

    return mk(0, 10), mk(10, 30)


def _sink(spark, tmp_path, **kw):
    cfg = IcebergSinkConfig(
        table_name="db.snap_events",
        warehouse_path=str(tmp_path),
        num_partitions=2,
        partition_spec=[("ts", "day")],
        **kw,
    )
    return LakeSink(spark, cfg)


def _declared(log, branch="main"):
    """Column name -> type JSON of the schema ``branch``'s head holds."""
    state = log.table_state(log.head(branch))
    return {f["name"]: f["type"] for f in state["schema_json"]["fields"]}


def test_time_travel_reads_pinned_snapshot(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    assert sink.read().count() == 30
    assert sink.read(as_of=1).count() == 10
    assert sink.read(as_of=2).count() == 30
    # the pinned snapshot returns the exact first batch, not a prefix
    assert sorted(r.event_id for r in sink.read(as_of=1).collect()) == list(range(10))


def test_snapshot_history_is_append_only(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    snaps = sink.snapshots().orderBy("snapshot_id").collect()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert [s.operation for s in snaps] == ["append", "append"]
    assert snaps[0].parent_id is None and snaps[1].parent_id == 1
    assert snaps[1].n_live_commits == 2


def test_rollback_restores_old_live_set(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    sink.rollback(1)
    assert sink.read().count() == 10
    # history keeps growing — the rolled-back snapshot is still readable
    assert sink.read(as_of=2).count() == 30
    snaps = sink.snapshots().orderBy("snapshot_id").collect()
    assert snaps[-1].operation == "rollback" and snaps[-1].snapshot_id == 3
    # appends after rollback build on the restored set
    sink.append(b2)
    assert sink.read().count() == 30


def test_overwrite_replaces_but_history_survives(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.overwrite(b2)
    assert sink.read().count() == 20
    assert sink.read(as_of=1).count() == 10


def test_merge_is_copy_on_write_with_time_travel(spark, tmp_path, batches):
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    updates = spark.createDataFrame(
        [
            Row(event_id=3, ts=dt.datetime(2024, 1, 1, 10), v=999.0),   # matched
            Row(event_id=77, ts=dt.datetime(2024, 1, 2, 10), v=-1.0),   # new
        ]
    )
    sink.merge(updates, keys=["event_id"])
    got = {r.event_id: r.v for r in sink.read().collect()}
    assert len(got) == 11
    assert got[3] == 999.0 and got[77] == -1.0 and got[4] == 4.0
    # pre-merge state still readable (snapshot isolation across the merge)
    pre = {r.event_id: r.v for r in sink.read(as_of=1).collect()}
    assert pre[3] == 3.0 and 77 not in pre


def test_sort_order_applies_at_file_level(spark, tmp_path, batches):
    """config.sort_order must order rows INSIDE every data file (WRITE
    ORDERED BY analogue): sorted row groups → usable min/max stats."""
    import pyarrow.parquet as pq

    b1, b2 = batches
    sink = _sink(spark, tmp_path, sort_order=["v desc"])
    sink.append(b1.unionByName(b2))
    data_dir = os.path.join(str(tmp_path), "db", "snap_events", "data")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(data_dir) for f in fs if f.endswith(".parquet")
    ]
    assert files
    for f in files:
        vs = pq.read_table(f, columns=["v"]).column("v").to_pylist()
        assert vs == sorted(vs, reverse=True)
    # config round-trip: the declared order lands in table metadata
    assert sink._log.table_meta()["sort_order"] == ["v desc"]


def test_commit_conflict_retries_against_new_head(spark, tmp_path, batches):
    """A concurrent winner taking the next version id must not abort or
    clobber: the loser recomputes its live set against the new head —
    the reference's optimistic commit loop (connector.py:242-257)."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    log: SnapshotLog = sink._log
    # simulate a concurrent writer claiming v2 (same live set, no-op commit)
    log._atomic_create(
        os.path.join(log.meta_dir, "v2.json"),
        {**log.snapshot(1), "snapshot_id": 2, "parent_id": 1,
         "timestamp_ms": 0, "added": [], "heads": {"main": 2}},
    )
    sink.append(b2)  # must land as v3, preserving v2's live set
    assert log.current_id() == 3
    assert sink.read().count() == 30
    assert len(log.live_commits(3)) == 2


def test_empty_table_from_declared_schema(spark, tmp_path):
    """A9 parity: create-from-declared-schema when no DataFrame is at hand
    (reference connector.py:380-392), and the missing-schema error path."""
    cfg = IcebergSinkConfig(
        table_name="db.declared",
        warehouse_path=str(tmp_path),
        table_schema="id BIGINT, ts TIMESTAMP",
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    sink.ensure_table()
    empty = sink.read()
    assert empty.count() == 0
    assert {"id", "ts", "_p_ts_day"} <= set(empty.columns)

    bare = LakeSink(
        spark, IcebergSinkConfig(table_name="db.noschema", warehouse_path=str(tmp_path))
    )
    with pytest.raises(ValueError, match="no schema"):
        bare.ensure_table()


def test_location_overrides_warehouse_layout(spark, tmp_path, batches):
    b1, _ = batches
    loc = str(tmp_path / "explicit_loc")
    cfg = IcebergSinkConfig(
        table_name="db.located", warehouse_path=str(tmp_path / "wh"), location=loc
    )
    LakeSink(spark, cfg).append(b1)
    assert os.path.isdir(os.path.join(loc, "metadata"))


def test_source_admission_options_compile():
    cfg = IcebergSinkConfig(table_name="db.t", batch_size=5000)
    assert cfg.source_admission_options("kafka") == {"maxOffsetsPerTrigger": "5000"}
    assert cfg.source_admission_options("parquet") == {"maxFilesPerTrigger": "1"}
    hinted = IcebergSinkConfig(
        table_name="db.t", batch_size=5000,
        extra_options={"rows_per_file_hint": 100},
    )
    assert hinted.source_admission_options("parquet") == {"maxFilesPerTrigger": "50"}
    assert hinted.source_admission_options("socket") == {}
    # the sink-local hint must not leak into catalog conf
    assert not any("rows_per_file_hint" in k for k in hinted.spark_catalog_conf())


def test_streaming_batch_cap_and_exactly_once(spark, tmp_path, batches):
    """End-to-end A4+A7: the batch_size admission cap slices a 3-file
    source into 3 micro-batches (3 snapshot commits, batch_ids 0..2), and
    a full replay of the same epochs — restart-after-commit — is deduped
    by the snapshot log's committed-batch-id set, not re-appended."""
    b1, b2 = batches
    src_dir = str(tmp_path / "src")
    b1.unionByName(b2).repartition(3).write.parquet(src_dir)
    n_files = len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
    assert n_files == 3

    cfg = IcebergSinkConfig(
        table_name="db.stream_capped",
        warehouse_path=str(tmp_path / "wh"),
        batch_size=1,  # → maxFilesPerTrigger=1: one file per micro-batch
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    schema = b1.schema

    def read_src():
        reader = spark.readStream.schema(schema)
        for k, v in cfg.source_admission_options("parquet").items():
            reader = reader.option(k, v)
        return reader.parquet(src_dir)

    q = sink.write_stream(read_src(), str(tmp_path / "cp1"),
                          trigger_override={"availableNow": True})
    q.awaitTermination(120)
    assert sink.read().count() == 30
    snaps = sink.snapshots().orderBy("snapshot_id").collect()
    assert len(snaps) == 3
    assert sorted(s.batch_id for s in snaps) == [0, 1, 2]

    # fresh checkpoint → Spark replays epochs 0..2 from scratch; every one
    # must be skipped by the committed-batch-id dedup
    q2 = sink.write_stream(read_src(), str(tmp_path / "cp2"),
                           trigger_override={"availableNow": True})
    q2.awaitTermination(120)
    assert sink.read().count() == 30
    assert sink.snapshots().count() == 3


def test_compact_collapses_commits_keeps_history(spark, tmp_path, batches):
    """5 appends → 1 compacted commit with identical rows; pre-compaction
    snapshots stay readable until expired (rewrite is just a snapshot)."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    for frac in range(5):
        sink.append(b1.where(F.col("event_id") % 5 == frac))
    assert len(sink._log.live_commits()) == 5
    sink.compact()
    assert len(sink._log.live_commits()) == 1
    assert sink.read().count() == 10
    assert sorted(r.event_id for r in sink.read().collect()) == list(range(10))
    # time travel to a pre-compaction snapshot still works
    assert sink.read(as_of=3).count() == 6  # event_id % 5 in {0,1,2}
    snaps = sink.snapshots().orderBy("snapshot_id").collect()
    assert snaps[-1].operation == "replace"


def test_expire_snapshots_reclaims_unreferenced_data(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    sink.compact()
    data_dir = os.path.join(str(tmp_path), "db", "snap_events", "data")
    assert len([d for d in os.listdir(data_dir) if d.startswith("_c=")]) == 3
    n = sink.expire_snapshots(keep_last=1)
    assert n == 2
    # only the compacted commit survives on disk; reads stay intact
    assert len([d for d in os.listdir(data_dir) if d.startswith("_c=")]) == 1
    assert sink.read().count() == 30
    # expired history is gone (like Iceberg: snapshot not found)
    with pytest.raises(Exception):
        sink.read(as_of=1).count()
    # history numbering is preserved, not rewritten
    assert [s.snapshot_id for s in sink.snapshots().collect()] == [3]


def test_expire_keeps_commits_shared_with_retained(spark, tmp_path, batches):
    """A commit referenced by BOTH an expired and a retained snapshot must
    survive expiry (append-chains share commit dirs)."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)   # v1: [c1]
    sink.append(b2)   # v2: [c1, c2]
    sink.expire_snapshots(keep_last=1)  # expires v1; c1 still in v2's live set
    assert sink.read().count() == 30
    data_dir = os.path.join(str(tmp_path), "db", "snap_events", "data")
    assert len([d for d in os.listdir(data_dir) if d.startswith("_c=")]) == 2


def test_delete_is_copy_on_write(spark, tmp_path, batches):
    """Row-level DELETE removes matching rows in one snapshot; pre-delete
    history stays until expiry (hard erasure = delete + expire, as in
    Iceberg)."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.delete("event_id % 2 = 0")
    assert sorted(r.event_id for r in sink.read().collect()) == [1, 3, 5, 7, 9]
    assert sink.read(as_of=1).count() == 10            # history intact
    sink.expire_snapshots(keep_last=1)
    with pytest.raises(Exception):
        sink.read(as_of=1).count()                     # now hard-erased
    snaps = sink.snapshots().collect()
    assert [s.operation for s in snaps] == ["delete"]


def test_incremental_read_returns_only_new_commits(spark, tmp_path, batches):
    """Consumer-side incremental scan: exactly the rows appended between
    two snapshots, nothing rescanned; refuses ranges that cross a
    replacing commit (where an append delta is undefined)."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)                       # v1
    sink.append(b2)                       # v2
    delta = sink.read_incremental(from_snapshot=1)
    assert sorted(r.event_id for r in delta.collect()) == list(range(10, 30))
    assert sink.read_incremental(from_snapshot=2).count() == 0
    sink.append(b1)                       # v3
    assert sink.read_incremental(1, 2).count() == 20
    assert sink.read_incremental(2).count() == 10
    sink.compact()                        # v4: replacing
    with pytest.raises(ValueError, match="replacing"):
        sink.read_incremental(2)


def test_split_materialization_prunes_per_split(spark, tmp_path, sf_dir):
    """Integration: the dataset_split bucket expression written as a lake
    partition column lets each split be read back with partition pruning —
    materializing train/val/test costs one write, and reading one split
    never scans the others."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    tagged = docs.withColumn("split", split)
    cfg = IcebergSinkConfig(
        table_name="db.split_docs",
        warehouse_path=str(tmp_path),
        num_partitions=2,
        partition_spec=[("split", "identity")],
    )
    sink = LakeSink(spark, cfg)
    sink.append(tagged)
    back = sink.read()
    counts = {r.split: r.n for r in tagged.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    one = back.where(F.col("_p_split") == "val")
    assert one.count() == counts["val"]
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = one._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "_p_split" in plan and "PartitionFilters" in plan


def test_concurrent_appends_all_land(spark, tmp_path, batches):
    """4 writers committing simultaneously while a 5th thread compacts:
    the version-file race resolves by retry, no append is lost — the
    compaction replaces only the dirs it read — and no snapshot id is
    skipped: the optimistic-commit property the reference's retry loop
    aims for (connector.py:242-257), proven under real thread
    concurrency."""
    from concurrent.futures import ThreadPoolExecutor

    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.ensure_table(b1)
    log = sink._log
    parts = [b1.where(F.col("event_id") % 4 == i) for i in range(4)]

    def compact_after_first_append():
        deadline = time.monotonic() + 60
        while log.current_id() == 0 and time.monotonic() < deadline:
            time.sleep(0.01)
        sink.compact()

    with ThreadPoolExecutor(max_workers=5) as ex:
        futures = [ex.submit(sink.append, df) for df in parts]
        futures.append(ex.submit(compact_after_first_append))
        for f in futures:
            f.result()
    ops = [s["operation"] for s in log.snapshots()]
    assert sorted(ops) == ["append"] * 4 + ["replace"]
    assert log.current_id() == 5
    assert sorted(r.event_id for r in sink.read().collect()) == list(range(10))
    # every intermediate snapshot is a consistent prefix-union of commits
    sizes = [sink.read(as_of=i).count() for i in range(1, 6)]
    assert sizes == sorted(sizes) and sizes[-1] == 10


def test_timestamp_as_of_resolves_to_snapshot(spark, tmp_path, batches):
    """TIMESTAMP AS OF: a wall-clock instant resolves to the latest
    snapshot committed at or before it; pre-table instants error."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    t_between = int(time.time() * 1000)
    time.sleep(0.01)
    sink.append(b2)
    assert sink.snapshot_as_of_timestamp(t_between) == 1
    assert sink.read(as_of_timestamp_ms=t_between).count() == 10
    assert sink.read(as_of_timestamp_ms=int(time.time() * 1000)).count() == 30
    with pytest.raises(ValueError, match="no snapshot"):
        sink.read(as_of_timestamp_ms=1)
    with pytest.raises(ValueError, match="at most one"):
        sink.read(as_of=1, as_of_timestamp_ms=t_between)


def test_overwrite_partitions_replaces_only_affected(spark, tmp_path, batches):
    """Backfill idiom: restating one day replaces that day's partition and
    leaves the others byte-identical; history survives for audit."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1.unionByName(b2))  # days 1-3, event_ids 0..29
    restated = spark.createDataFrame(
        [(100 + i, dt.datetime(2024, 1, 2, 10), -1.0) for i in range(4)],
        "event_id BIGINT, ts TIMESTAMP, v DOUBLE",
    )
    sink.overwrite_partitions(restated)
    back = sink.read()
    by_day = {
        r.d: r.n for r in back.groupBy(
            F.col("_p_ts_day").cast("date").alias("d")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert by_day[dt.date(2024, 1, 2)] == 4          # restated day replaced
    assert by_day[dt.date(2024, 1, 1)] == 10         # others untouched
    assert by_day[dt.date(2024, 1, 3)] == 10
    day2 = sorted(
        r.event_id for r in back.where(F.col("_p_ts_day").cast("date")
                                       == F.lit("2024-01-02").cast("date")).collect()
    )
    assert day2 == [100, 101, 102, 103]
    # pre-restatement day 2 still time-travelable
    assert sink.read(as_of=1).count() == 30


def test_changes_across_append_merge_delete(spark, tmp_path, batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)                       # v1
    v1 = sink._log.current_id()
    sink.append(b2)                       # v2: pure append
    v2 = sink._log.current_id()

    ch = sink.changes(v1, v2)
    assert ch.where("_change_type = 'delete'").count() == 0
    got = sorted(r.event_id for r in ch.where("_change_type = 'insert'").collect())
    assert got == list(range(10, 30))

    # an update = old row out, new row in
    upd = b1.where("event_id = 3").withColumn("v", F.lit(999.0))
    sink.merge(upd, keys=["event_id"])    # v3
    v3 = sink._log.current_id()
    ch = {(r._change_type, r.event_id, r.v) for r in sink.changes(v2, v3).collect()}
    assert ch == {("delete", 3, 3.0), ("insert", 3, 999.0)}

    sink.delete("event_id >= 25")         # v4
    ch = sink.changes(v3)
    assert ch.where("_change_type = 'insert'").count() == 0
    assert ch.where("_change_type = 'delete'").count() == 5


@pytest.mark.deep
def test_streaming_commits_feed_continuous_aggregate(spark, tmp_path, batches):
    """End-to-end: micro-batch commits from a file-source stream are
    visible to the continuous aggregate as ordinary append snapshots, and
    a single refresh folds all of them."""
    import os

    from bytewax_iceberg_connector_spark.operators.matview import (
        ContinuousAggregate,
    )
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    b1, b2 = batches
    src_dir = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(os.path.join(src_dir, "f1"))
    b2.coalesce(1).write.parquet(os.path.join(src_dir, "f2"))

    sink = _sink(spark, tmp_path)
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/*")
    )
    q = sink.write_stream(stream, checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    agg = LakeSink(spark, IcebergSinkConfig(
        table_name="db.snap_events_by_day",
        warehouse_path=str(tmp_path), num_partitions=1,
    ))
    cagg = ContinuousAggregate(
        sink, agg,
        group_exprs={"day": F.to_date("ts")},
        measures={"total_v": "v"},
    )
    assert cagg.refresh()["mode"] == "full"
    view = {(r.day, float(r.total_v), r.n_rows) for r in cagg.read().collect()}
    expected = {
        (r.day, float(r.total_v), r.n_rows)
        for r in sink.read()
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum("v").cast("decimal(18,2)").alias("total_v"),
             F.count("*").alias("n_rows"))
        .collect()
    }
    assert view == expected


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_path, batches):
    """Iceberg ref semantics on the fallback: a tag names a snapshot for
    time travel, pins it (and its data) across expire_snapshots, and
    dropping the tag releases it for reclamation."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sid = sink.tag("release-v1")          # tag head (snapshot 1)
    sink.append(b2)
    sink.overwrite(b2.limit(5))

    assert sink.tags() == {"release-v1": sid}
    assert sink.read(tag="release-v1").count() == b1.count()

    # expire to the newest snapshot only — the tagged one must survive
    # (3 snapshots exist; without the tag 2 would expire, with it only 1)
    assert sink.expire_snapshots(keep_last=1) == 1
    assert sink.read(tag="release-v1").count() == b1.count()

    # conflicting selectors rejected; unknown tags reported with the list
    with pytest.raises(ValueError, match="at most one"):
        sink.read(as_of=1, tag="release-v1")
    with pytest.raises(LookupError, match="release"):
        sink.read(tag="nope")

    # dropping the tag releases the pin: the next expiry reclaims it
    sink.drop_tag("release-v1")
    assert sink.expire_snapshots(keep_last=1) == 1
    with pytest.raises(LookupError):
        sink.read(tag="release-v1")


def test_commit_stats_prune_skips_nonoverlapping_dirs(spark, tmp_path, batches):
    """Manifest-stats file skipping: commit dirs whose footer-harvested
    min/max cannot intersect the bound are not read at all; results equal
    the full-scan filter exactly (pruning restricts files, callers still
    filter rows)."""
    b1, b2 = batches  # v in [0,10) and [10,30)
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    dirs = sink._log.live_commits()
    assert len(dirs) == 2

    pruned = sink.read(prune={"v": (15.0, 25.0)})
    read_dirs = {f.split("/_c=")[1].split("/")[0] for f in pruned.inputFiles()}
    assert read_dirs == {dirs[1].split("_c=")[1]}  # only the second commit
    got = sorted(r.event_id for r in pruned.where(F.col("v").between(15, 25)).collect())
    want = sorted(
        r.event_id
        for r in sink.read().where(F.col("v").between(15, 25)).collect()
    )
    assert got == want

    # open-ended bound prunes the other side
    lo_only = sink.read(prune={"v": (None, 5.0)})
    lo_dirs = {f.split("/_c=")[1].split("/")[0] for f in lo_only.inputFiles()}
    assert lo_dirs == {dirs[0].split("_c=")[1]}

    # non-intersecting bound reads nothing but keeps the schema
    none_df = sink.read(prune={"v": (1000.0, None)})
    assert none_df.count() == 0
    assert set(none_df.columns) == set(sink.read().columns)


def test_commit_stats_prune_is_never_lossy_without_stats(spark, tmp_path, batches):
    """Dirs without a stats file (or without the column) must be kept."""
    import os as _os

    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    # simulate a stats-less commit (e.g. written by an older writer)
    for d in sink._log.commit_paths():
        p = _os.path.join(d, "_bic_stats.json")
        if _os.path.exists(p):
            _os.unlink(p)
            break
    pruned = sink.read(prune={"v": (0.0, 5.0)})
    got = sorted(r.event_id for r in pruned.where("v <= 5").collect())
    assert got == [0, 1, 2, 3, 4, 5]
    # unknown column: everything kept
    assert sink.read(prune={"nope": (0, 1)}).count() == 30


def test_commit_stats_omit_column_with_partial_coverage(spark, tmp_path, batches):
    """Round-3 ADVICE: if ANY row group of ANY file in a commit fails to
    yield usable min/max for a column, the column must be omitted from
    _bic_stats.json entirely — partial bounds recorded as dir-wide bounds
    would let prune() drop a dir that actually holds matching rows."""
    import glob as _glob
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    d = sink._log.commit_paths()[0]
    stats_file = _os.path.join(d, "_bic_stats.json")
    with open(stats_file) as f:
        before = _json.load(f)
    assert "v" in before  # normally covered

    # drop a parquet file with stats for event_id ONLY into a leaf
    # partition dir (an older / misconfigured writer): v now has a row
    # group without min/max somewhere in the commit
    leaf = next(
        _os.path.join(d, e) for e in _os.listdir(d)
        if _os.path.isdir(_os.path.join(d, e))
    )
    pq.write_table(
        pa.table(
            {
                "event_id": [99],
                "ts": [dt.datetime(2024, 1, 1, 10)],
                "v": [9000.0],
            }
        ),
        _os.path.join(leaf, "part-extra.parquet"),
        write_statistics=["event_id"],
    )
    _os.unlink(stats_file)
    sink._write_commit_stats(
        d, _glob.glob(_os.path.join(d, "**", "*.parquet"), recursive=True)
    )
    with open(stats_file) as f:
        after = _json.load(f)
    # v=9000 is invisible to v's stats now — recording the old [0,9] bound
    # would prune this dir for prune={"v": (8000, None)} and lose the row
    assert "v" not in after
    assert after["event_id"] == [0, 99]  # fully covered: still recorded
    # and the pruned read keeps the dir (v absent from stats = keep)
    assert sink.read(prune={"v": (8000.0, None)}).where("v >= 8000").count() == 1


def test_scoped_cache_unpersists_on_result_gc(spark):
    """plans/_cache.scoped ties plan-internal persists to the result's
    lifetime: dropping the result must unpersist the cache (round-3
    ADVICE: persisted frames leaked across queries in long sessions)."""
    import gc

    from bytewax_iceberg_connector_spark.plans._cache import scoped

    cached = spark.range(100).persist()
    cached.count()
    assert cached.is_cached
    result = scoped(cached.selectExpr("sum(id) as s"), cached)
    assert result.collect()[0][0] == 4950
    assert cached.is_cached  # alive while the result is referenced
    del result
    gc.collect()
    assert not cached.is_cached


def _kafka_source_available(spark) -> bool:
    """True when spark-sql-kafka is genuinely deployable (registry probe,
    same pattern as the avro/iceberg capability gates)."""
    jvm = spark._jvm
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "kafka", jvm.org.apache.spark.sql.internal.SQLConf.get()
        )
        return True
    except Exception:
        return False


def test_kafka_admission_contract_gated(spark):
    """A4 negative contract (round-6 verdict #6): ``batch_size`` compiles
    to ``maxOffsetsPerTrigger`` — an EXACT per-trigger record cap — only
    for kafka, and this container cannot prove that end-to-end (no
    spark-sql-kafka jar, no broker, no network). The option compile is
    pinned by test_source_admission_options_compile; THIS gated twin
    proves, on any cluster with the kafka source on the classpath, that
    the real source accepts the compiled options at stream-definition
    time. Skipping here is the visible record of the semantic gap: file
    sources are behavior-tested (test_streaming_batch_cap_and_exactly_once),
    the kafka record cap is emitted-but-unproven in this container."""
    if not _kafka_source_available(spark):
        pytest.skip(
            "spark-sql-kafka not on classpath (no jar/network in this "
            "container) — A4 kafka record-cap options emitted but "
            "unprovable here"
        )
    cfg = IcebergSinkConfig(table_name="db.t", batch_size=5000)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("subscribe", "bic_admission_probe")
    )
    for k, v in cfg.source_admission_options("kafka").items():
        reader = reader.option(k, v)
    df = reader.load()  # definition-time only; no broker contact
    assert df.isStreaming and "value" in df.columns


def test_torn_commit_dir_is_invisible_and_next_commit_lands(
    spark, tmp_path, batches
):
    """Crash-recovery invariant of the log-based lake (Iceberg/Delta's
    core guarantee): a writer that dies BETWEEN writing its data files
    and logging the commit leaves a torn directory that must be (a)
    invisible to every read — only LOGGED dirs are scanned — and (b)
    harmless to subsequent commits, snapshots, and time travel."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    snap_after_b1 = 1  # snapshot ids are sequential from 1

    # simulate the crash: reserve a commit dir, write real data + the
    # spec marker into it, then DIE before self._log.commit(...)
    import json

    _name, torn_path = sink._log.new_commit_dir()
    b2.write.mode("errorifexists").format("parquet").save(torn_path)
    with open(os.path.join(torn_path, "_bic_spec.json"), "w") as f:
        json.dump({"spec_id": 0, "pcols": []}, f)

    assert sink.read().count() == b1.count()  # torn rows never surface
    sink.append(b2)  # the next writer is unaffected
    assert sink.read().count() == b1.count() + b2.count()
    # time travel across the torn window still pins the logged snapshot
    assert sink.read(as_of=snap_after_b1).count() == b1.count()


def test_copy_on_write_preserves_evolved_columns(spark, tmp_path, batches):
    """Copy-on-write maintenance (delete/compact/merge) on a
    schema-EVOLVED table must carry every column ever committed: the
    rewrite used to read with one file's schema and silently WIPED the
    evolved column from all survivors (r06 find — a no-op delete nulled
    it table-wide)."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b1.withColumn("q", F.col("v") * 2).withColumn(
        "event_id", F.col("event_id") + 100
    ))

    def q_map():
        return {
            r.event_id: r.asDict().get("q")
            for r in sink.read().collect()
        }

    want = {i: None for i in range(10)} | {i + 100: float(i) * 2
                                           for i in range(10)}
    assert q_map() == want
    sink.delete("event_id < 0")  # no-op rewrite
    assert q_map() == want
    sink.compact()
    assert q_map() == want
    sink.merge(b1.where("event_id = 0"), keys=["event_id"])
    assert q_map() == want


@pytest.mark.deep
def test_wap_lifecycle_at_sink_level(spark, tmp_path, batches):
    """Write-audit-publish through the LakeSink surface (r07 API):
    staged branch rows are invisible on main, the audit reads the
    branch head (fork state + staged), publish fast-forwards main,
    and a publish after main advanced must conflict — the staged
    branch then drops without touching main."""
    from bytewax_iceberg_connector_spark.operators.snapshots import (
        CommitConflict,
    )

    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)

    def ids(**kw):
        return {r.event_id for r in sink.read(**kw).select("event_id").collect()}

    # stage on a branch: main blind, branch audit-read sees fork + staged
    sink.append(b2.where("event_id < 15"), branch="audit")
    assert ids() == set(range(10))
    assert ids(branch="audit") == set(range(15))

    # publish: main fast-forwards to the branch head
    sink.publish("audit")
    assert ids() == set(range(15))

    # steady-state loop: stage more on the same branch, re-publish
    sink.append(b2.where("event_id >= 15 and event_id < 20"), branch="audit")
    sink.publish("audit")
    assert ids() == set(range(20))

    # main advances through another route -> publish must refuse
    sink.append(b2.where("event_id >= 20"), branch="audit")
    sink.append(spark.createDataFrame([Row(event_id=99, ts=dt.datetime(2024, 1, 2, 10), v=9.0)]))
    with pytest.raises(CommitConflict):
        sink.publish("audit")

    # audit-failed arm: drop the branch, main untouched, staged gone
    sink.drop_branch("audit")
    assert ids() == set(range(20)) | {99}
    with pytest.raises(LookupError):
        sink.read(branch="audit")


def test_replay_after_restart_and_expiry_stays_exactly_once(
    spark, tmp_path, batches
):
    """Found by the r07 exactly-once model: committing a micro-batch,
    then maintenance + retention expiring ITS snapshot, then a process
    restart, left the rebuilt batch-id cache blind to the batch — a
    checkpoint-window replay re-appended rows whose data was still live
    (duplication). Every commit now carries its base's batch ids plus its
    own, so the retained head holds the expired snapshot's id, and it
    must stay held through further expiries."""
    b1, _ = batches

    def mk():
        return _sink(spark, tmp_path)

    s = mk()
    assert not s._replayed_batch(7)
    s.append(b1, batch_id=7)
    s.compact()                       # later batchless snapshot
    s.expire_snapshots(keep_last=1)   # drops batch-7's own snapshot
    s2 = mk()                         # restart: ids read from the head
    assert s2._replayed_batch(7), "expired batch id lost across restart"
    assert s2.read().count() == b1.count()
    # chain: another batch, another expiry — BOTH ids must survive
    s2.append(b1.withColumn("event_id", b1.event_id + 100), batch_id=8)
    s2.compact()
    s2.expire_snapshots(keep_last=1)
    s3 = mk()
    assert s3._replayed_batch(7) and s3._replayed_batch(8)


def test_incremental_range_with_expired_interior_raises_cleanly(
    spark, tmp_path, batches
):
    """A CDC consumer baselined on a TAG-retained old snapshot, with
    retention having expired an interior snapshot of its range, must get
    the documented ValueError (re-baseline guidance) — this path used to
    escape with a raw LookupError from the lineage walk; an expired
    interior commit could have been a replacing one, so the append-only
    guarantee is unverifiable."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)                    # v1 — consumer baseline
    sink.tag("cdc_start", 1)
    sink.overwrite(b2)                 # v2 replacing (will be expired)
    sink.append(b1)                    # v3
    sink.append(b1)                    # v4
    sink.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired.*re-baseline"):
        sink.read_incremental(1)


def test_changes_across_compaction_boundary_is_empty(spark, tmp_path, batches):
    """Compaction rewrites files but no logical rows — a CDC window
    spanning ONLY a compaction must be empty (the multiset diff cancels;
    a file-level diff would report phantom delete+insert of everything),
    and a window spanning an append + a compaction must report exactly
    the appended rows."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    v1 = sink._log.current_id()
    sink.append(b2)
    v2 = sink._log.current_id()
    sink.compact()
    v3 = sink._log.current_id()
    assert v3 > v2
    assert sink.changes(v2, v3).count() == 0
    ch = sink.changes(v1, v3)
    assert ch.where("_change_type = 'delete'").count() == 0
    assert ch.where("_change_type = 'insert'").count() == b2.count()


def test_read_incremental_across_schema_evolution(spark, tmp_path):
    """An append range containing both pre- and post-evolution commits
    must load as one union with the added column null-filled on older
    rows (the CDC twin of this crossing crashed UNRESOLVED_COLUMN before
    the r07 model closure; the incremental path merges within its loaded
    group and is pinned here).

    The write schema carries decimal, timestamp_ntz, array, struct and
    map columns: reads take every type from the commit markers, so each
    read's dtypes must equal the written ones exactly, and a snapshot
    from before the add must lack the added column."""
    import datetime as dt
    from decimal import Decimal

    schema = (
        "event_id BIGINT, ts TIMESTAMP, v DOUBLE, amount DECIMAL(38,18), "
        "local_ts TIMESTAMP_NTZ, emb ARRAY<FLOAT>, "
        "src STRUCT<host: STRING, port: INT>, tags MAP<STRING, BIGINT>"
    )
    sink = _sink(spark, tmp_path)

    def rows(ids, ev=False):
        data = [
            (i, dt.datetime(2024, 1, 1, 9), float(i),
             Decimal(i) + Decimal("0.125"), dt.datetime(2024, 1, 1, i),
             [float(i), 0.5], (f"h{i}", i), {"k": i})
            + ((float(i) * 2,) if ev else ())
            for i in ids
        ]
        return spark.createDataFrame(
            data, schema + (", q DOUBLE" if ev else "")
        )

    written = rows([0]).dtypes
    sink.append(rows([0, 1]))
    v1 = sink._log.current_id()
    sink.append(rows([2, 3]))
    v2 = sink._log.current_id()
    sink.append(rows([4, 5], ev=True))
    v3 = sink._log.current_id()

    inc = sink.read_incremental(v1, v3)
    assert "q" in inc.columns
    got = {(r.event_id, r.q) for r in inc.select("event_id", "q").collect()}
    assert got == {(2, None), (3, None), (4, 8.0), (5, 10.0)}

    def data_dtypes(df):
        return [d for d in df.dtypes if not d[0].startswith("_p_")]

    assert data_dtypes(sink.read()) == written + [("q", "double")]
    assert data_dtypes(inc) == written + [("q", "double")]
    assert data_dtypes(sink.read(as_of=v1)) == written
    assert data_dtypes(sink.read(as_of=v2)) == written
    back = {r.event_id: r for r in sink.read().collect()}
    assert back[5].amount == Decimal("5.125")
    assert back[5].local_ts == dt.datetime(2024, 1, 1, 5)
    assert back[5].emb == [5.0, 0.5]
    assert back[5].src.host == "h5" and back[5].tags == {"k": 5}

    # plain read() must ALSO surface the evolved column: a schema taken
    # from one file's footer is order-dependent across a session (r07:
    # passes alone, silently drops `q` when other reads ran first), so
    # this asserts full contents.
    plain = sink.read()
    assert "q" in plain.columns
    got = {(r.event_id, r.q)
           for r in plain.select("event_id", "q").collect()}
    assert got == {(0, None), (1, None), (2, None), (3, None),
                   (4, 8.0), (5, 10.0)}


def test_every_reader_survives_schema_evolution(spark, tmp_path):
    """Caller-list pin for metadata-schema reads: EVERY reader API —
    default read(), time travel, changes(), read_incremental(), and
    every copy-on-write op's internal read (delete / compact / merge) —
    must carry the evolved column with old rows null-filled, and time
    travel to a PRE-evolution snapshot must keep the old schema (no q).
    A future reader that takes its schema from one file's footer fails
    here functionally."""
    import datetime as dt

    from pyspark.sql import Row

    sink = _sink(spark, tmp_path)

    def rows(ids, ev=False):
        base = [
            dict(event_id=i, ts=dt.datetime(2024, 1, 1, 9), v=float(i))
            for i in ids
        ]
        if ev:
            for r in base:
                r["q"] = r["v"] * 2
        return spark.createDataFrame([Row(**r) for r in base])

    sink.append(rows([0, 1]))
    v1 = sink._log.current_id()
    sink.append(rows([2, 3], ev=True))

    # time travel BEFORE the evolution keeps the old schema
    assert "q" not in sink.read(as_of=v1).columns
    # time travel AT head spans both schemas → merged
    head = sink._log.current_id()
    assert "q" in sink.read(as_of=head).columns

    # CDC across the boundary: inserts carry q
    ch = sink.changes(v1)
    assert {(r.event_id, r.q) for r in ch.collect()} == {(2, 4.0), (3, 6.0)}

    # delete() is a CoW rewrite reading across the boundary — survivors
    # must keep q (null for pre-evolution rows)
    sink.delete("event_id = 0")
    got = {(r.event_id, r.q)
           for r in sink.read().select("event_id", "q").collect()}
    assert got == {(1, None), (2, 4.0), (3, 6.0)}

    # compact() rewrites the live set — q survives, including the nulls
    sink.compact()
    got = {(r.event_id, r.q)
           for r in sink.read().select("event_id", "q").collect()}
    assert got == {(1, None), (2, 4.0), (3, 6.0)}

    # merge() reads current state across the (now-compacted) history
    sink.merge(rows([1], ev=True), keys=["event_id"])
    got = {(r.event_id, r.q)
           for r in sink.read().select("event_id", "q").collect()}
    assert got == {(1, 2.0), (2, 4.0), (3, 6.0)}


def test_reads_build_without_a_spark_job(spark, tmp_path, batches):
    """Reads take their schema from the commit markers, never from parquet
    footers: building a plain, time-travel, branch or incremental read of
    an evolved multi-commit table runs no Spark job. The frames still
    carry each read's own columns: the added column on head, none before
    the add, the staged column on the branch only."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    pre = sink._log.current_id()
    sink.append(b2)
    sink.append(b1.withColumn("q", F.col("v") * 2))
    sink.append(b2.withColumn("q", F.col("v") * 3))
    sink.append(b1.withColumn("r", F.lit("x")), branch="audit")

    reads = {
        "read": lambda: sink.read(),
        "as_of": lambda: sink.read(as_of=pre),
        "branch": lambda: sink.read(branch="audit"),
        "incremental": lambda: sink.read_incremental(pre),
    }
    built = {}
    for name, build in reads.items():
        assert jobs_run_by(
            spark, lambda: built.__setitem__(name, build())
        ) == 0, name
    data = {name: {c for c in df.columns if not c.startswith("_p_")}
            for name, df in built.items()}
    assert data == {
        "read": {"event_id", "ts", "v", "q"},
        "as_of": {"event_id", "ts", "v"},
        "branch": {"event_id", "ts", "v", "q", "r"},
        "incremental": {"event_id", "ts", "v", "q"},
    }
    assert built["read"].where("q IS NULL").count() == 30


def _leaf_nodes(df) -> list[str]:
    """Node names of the leaves of ``df``'s optimized logical plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_empty_reads_are_local_relations(spark, tmp_path, batches):
    """A read whose live set is empty (no new commit for an incremental
    read, or only a fileless delete-all commit) is a JVM-side
    ``LocalRelation`` of exactly the declared schema, never an RDD of a
    Python list, whose execution runs Python-worker tasks. The same holds
    for the snapshot history frame."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    b1, _ = batches
    sink = _sink(spark, tmp_path)
    no_history = sink.snapshots()
    assert _leaf_nodes(no_history) == ["LocalRelation"]
    assert no_history.count() == 0
    sink.append(b1)
    head = sink._log.current_id()
    incremental = sink.read_incremental(head)  # no commit after head
    sink.delete("true")  # a partitioned write of no rows: a fileless commit
    emptied = sink._log.current_id()
    declared = StructType.fromJson(sink._log.table_meta()["schema_json"])
    with_spec = StructType(
        declared.fields + [StructField("_spec_id", IntegerType())]
    )

    reads = {
        "incremental": (incremental, declared),
        "read": (sink.read(), declared),
        "as_of": (sink.read(as_of=emptied), declared),
        "with_spec_id": (sink.read(with_spec_id=True), with_spec),
    }
    for name, (df, schema) in reads.items():
        assert df.schema == schema, name
        assert _leaf_nodes(df) == ["LocalRelation"], name
        assert df.count() == 0, name
    history = sink.snapshots()
    assert _leaf_nodes(history) == ["LocalRelation"]
    assert [(r.snapshot_id, r.operation, r.n_live_commits)
            for r in history.orderBy("snapshot_id").collect()] == [
        (head, "append", 1), (emptied, "delete", 1)]


def test_single_writer_append_writes_one_file_per_partition_value(
        spark, tmp_path):
    """With ``num_partitions=1`` a 4-partition frame over 3 ``day(ts)``
    partitions is written as one data file per partition value, each
    ordered by ``config.sort_order``."""
    import pyarrow.parquet as pq

    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="db.single_writer",
        warehouse_path=str(tmp_path),
        num_partitions=1,
        partition_spec=[("ts", "day")],
        sort_order=["v desc"],
    ))
    df = spark.range(0, 40, 1, numPartitions=4).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704103200) + F.col("id") % 3 * 86400
        ).alias("ts"),
        (F.col("id") * 7 % 40).cast("double").alias("v"),
    )
    assert df.rdd.getNumPartitions() == 4
    sink.append(df)
    (commit,) = sink._log.commit_paths()
    files_by_day = {}
    for root, _dirs, files in os.walk(commit):
        for f in files:
            if f.endswith(".parquet"):
                files_by_day.setdefault(os.path.basename(root), []).append(
                    os.path.join(root, f))
    assert len(files_by_day) == 3
    for day, files in files_by_day.items():
        assert len(files) == 1, day
        vs = pq.read_table(files[0], columns=["v"]).column("v").to_pylist()
        assert vs == sorted(vs, reverse=True), day
    assert sorted(r.event_id for r in sink.read().collect()) == list(range(40))


def _single_writer(spark, tmp_path, **kw):
    return LakeSink(spark, IcebergSinkConfig(
        table_name="db.single_writer",
        warehouse_path=str(tmp_path),
        num_partitions=1,
        partition_spec=[("ts", "day")],
        **kw,
    ))


def _arrow_events(spark, n: int):
    """An ``n``-row frame over 3 days built from one Arrow table (a
    ``LocalRelation``, so running it starts no Python worker)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1 + i % 3, 10)
                        for i in range(n)], pa.timestamp("us", tz="UTC")),
        "v": pa.array([float(i * 7 % n) for i in range(n)]),
    }))


def _files_by_dir(commit: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(commit):
        for f in files:
            if f.endswith(".parquet"):
                out.setdefault(os.path.basename(root), []).append(
                    os.path.join(root, f))
    return out


def test_small_single_writer_append_runs_one_spark_job(spark, tmp_path):
    """A 1000-row Arrow append whose size estimate is under the sink's
    threshold is written through ``coalesce(1)``: one Spark job, with no
    exchange for AQE to run as a job of its own, and still one data file
    per partition value."""
    sink = _single_writer(spark, tmp_path)
    df = _arrow_events(spark, 1000)
    assert jobs_run_by(spark, lambda: sink.append(df)) == 1
    (commit,) = sink._log.commit_paths()
    files = _files_by_dir(commit)
    assert len(files) == 3 and all(len(f) == 1 for f in files.values())
    assert sink.read().count() == 1000


def test_micro_batch_shaped_append_runs_one_spark_job(spark, tmp_path):
    """A frame built the way a streaming micro-batch reaches the sink (one
    landed parquet file -> validate_schema -> enrich_with_metadata) is
    small by Catalyst's estimate, so its commit is one Spark job too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.operators import (
        enrich_with_metadata,
        validate_schema,
    )

    landed = str(tmp_path / "part-000000.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(range(1000), pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1 + i % 3, 10)
                        for i in range(1000)], pa.timestamp("us", tz="UTC")),
        "props": pa.array([f'{{"k": {i % 5}}}' for i in range(1000)]),
    }), landed)
    checked = validate_schema(spark.read.parquet(landed), {
        "props_json": F.get_json_object("props", "$.k").isNotNull(),
    })
    batch = enrich_with_metadata(checked.oks, {
        "props_k": F.get_json_object("props", "$.k").cast("bigint"),
    }).oks
    sink = _single_writer(spark, tmp_path / "wh")
    assert jobs_run_by(spark, lambda: sink.append(batch, batch_id=0)) == 1
    assert sink.read().count() == 1000


def test_append_over_size_threshold_keeps_the_exchange(
        spark, tmp_path, monkeypatch):
    """An input whose estimate is over the threshold (forced here by a
    threshold of 0) keeps the ``repartition(1, _p_*)`` exchange, which AQE
    runs as a job of its own: 2 Spark jobs, one data file per partition
    value, each ordered by ``config.sort_order``."""
    import pyarrow.parquet as pq

    from bytewax_iceberg_connector_spark.operators import sink as sink_mod

    monkeypatch.setattr(sink_mod, "_COALESCE_MAX_BYTES", 0)
    sink = _single_writer(spark, tmp_path, sort_order=["v desc"])
    df = spark.range(0, 40, 1, numPartitions=4).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704103200) + F.col("id") % 3 * 86400
        ).alias("ts"),
        (F.col("id") * 7 % 40).cast("double").alias("v"),
    )
    assert sink_mod._plan_bytes(df) > 0
    assert jobs_run_by(spark, lambda: sink.append(df)) == 2
    (commit,) = sink._log.commit_paths()
    files = _files_by_dir(commit)
    assert len(files) == 3
    for day, paths in files.items():
        assert len(paths) == 1, day
        vs = pq.read_table(paths[0], columns=["v"]).column("v").to_pylist()
        assert vs == sorted(vs, reverse=True), day


def test_write_path_size_decision_runs_no_spark_job(spark, tmp_path):
    """The sink's size estimate reads plan statistics only: it runs no
    Spark job, also with a Python UDF upstream and on a table read."""
    from bytewax_iceberg_connector_spark.operators import sink as sink_mod

    df = _arrow_events(spark, 1000)
    sink = _single_writer(spark, tmp_path)
    sink.append(df)
    frames = {
        "arrow": df,
        "python_udf": df.withColumn(
            "w", F.udf(lambda v: v + 1.0, "double")("v")),
        "table_read": sink.read(),
    }
    sizes = {}
    for name, frame in frames.items():
        assert jobs_run_by(spark, lambda: sizes.__setitem__(
            name, sink_mod._plan_bytes(frame))) == 0, name
    assert all(0 < s <= sink_mod._COALESCE_MAX_BYTES
               for s in sizes.values()), sizes


def test_append_racing_a_spec_evolution_keeps_its_own_spec_id(
        spark, tmp_path, monkeypatch):
    """An append reads table metadata once: when a partition-spec
    evolution lands after that read, the commit is written in the old
    layout AND its marker names the old spec, so a ``_spec_id`` read
    attributes the row to the spec it was written under."""
    cfg = IcebergSinkConfig(
        table_name="db.spec_race",
        warehouse_path=str(tmp_path),
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    row = spark.createDataFrame(
        [Row(id=1, ts=dt.datetime(2024, 1, 1, 10), v=1.0)])
    sink.ensure_table(row)
    reserve = SnapshotLog.new_commit_dir

    def evolve_then_reserve(self):
        monkeypatch.setattr(SnapshotLog, "new_commit_dir", reserve)
        LakeSink(spark, cfg).evolve_partition_spec([("id", "bucket[4]")])
        return reserve(self)

    monkeypatch.setattr(SnapshotLog, "new_commit_dir", evolve_then_reserve)
    sink.append(row)
    # the evolve landed
    assert sink._log.table_state(sink._log.head())["spec_id"] == 1
    (commit,) = sink._log.commit_paths()
    with open(os.path.join(commit, "_bic_spec.json")) as f:
        marker = json.load(f)
    assert (marker["spec_id"], marker["pcols"]) == (0, ["_p_ts_day"])
    (got,) = sink.read(with_spec_id=True).collect()
    assert got._spec_id == 0
    assert got._p_ts_day is not None
    assert got.asDict().get("_p_id_bucket") is None


def test_type_change_rejected_at_write_history_stays_readable(spark, tmp_path):
    """Schema evolution is ADDITIVE-only (the Iceberg contract): a batch
    that rewrites an existing column's TYPE is rejected at WRITE time
    with an actionable error, and the table stays fully readable — the
    pre-r08 behavior committed the conflicting file and every later read
    died with CANNOT_MERGE_SCHEMAS (loud, but history was already
    poisoned). Column ADDS still
    evolve the declared schema, so a type conflict on an EVOLVED column
    is caught at write too."""
    import datetime as dt

    from pyspark.sql import Row

    sink = _sink(spark, tmp_path)
    sink.append(spark.createDataFrame(
        [Row(event_id=1, ts=dt.datetime(2024, 1, 1), v=10)]))  # v: long

    with pytest.raises(ValueError, match="additive-only"):
        sink.append(spark.createDataFrame(
            [Row(event_id=2, ts=dt.datetime(2024, 1, 1), v=2.5)]))  # double

    # the rejected batch left no trace: table still readable, one row
    assert [r.v for r in sink.read().collect()] == [10]

    # additive evolution records the union schema...
    sink.append(spark.createDataFrame(
        [Row(event_id=3, ts=dt.datetime(2024, 1, 1), v=11, q=1.5)]))
    assert "q" in sink.read().columns
    # ...so a type conflict on the EVOLVED column is now caught too
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(spark.createDataFrame(
            [Row(event_id=4, ts=dt.datetime(2024, 1, 1), v=12, q=7)]))  # long


def test_wap_staged_maintenance_on_branch(spark, tmp_path, batches):
    """Maintenance is WAP-stageable, not append-only (r09 ADVICE): a
    DELETE, MERGE, and compaction staged on a branch rewrite the BRANCH
    head while main stays untouched; publish then fast-forwards the
    audited, maintained state to main in one step. (Iceberg routes all
    DML through the same ``spark.wap.branch`` conf; the parquet backend
    mirrors that by reading the branch head and committing back to it.)"""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)  # main: 0..9

    def ids(**kw):
        return {r.event_id for r in sink.read(**kw).select("event_id").collect()}

    # stage a crawl batch, then AUDIT-FIX it on the branch: delete two
    # bad rows, upsert a corrected one, compact the branch's file litter
    sink.append(b2.where("event_id < 20"), branch="audit")   # stage 10..19
    sink.delete("event_id IN (18, 19)", branch="audit")
    sink.merge(
        spark.createDataFrame(
            [Row(event_id=10, ts=dt.datetime(2024, 1, 2, 10), v=99.0)]
        ),
        keys=["event_id"], branch="audit",
    )
    sink.compact(branch="audit")

    # main never saw any of it
    assert ids() == set(range(10))
    # the branch head reflects every staged maintenance op
    assert ids(branch="audit") == set(range(18))
    assert {
        r.v for r in sink.read(branch="audit")
        .where("event_id = 10").collect()
    } == {99.0}

    # publish: the audited state lands on main atomically
    sink.publish("audit")
    assert ids() == set(range(18))
    assert {r.v for r in sink.read().where("event_id = 10").collect()} == {99.0}


def test_rollback_on_branch_leaves_main_untouched(spark, tmp_path, batches):
    """rollback(branch=) restores an earlier live set as a BRANCH commit
    (r09 ADVICE: stageable maintenance) — main's head is unchanged until
    the branch publishes."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)                                  # snap 1: 0..9
    first = sink.current_snapshot_id()
    sink.append(b2.where("event_id < 15"))           # snap 2: 0..14
    sink.rollback(first, branch="undo")              # staged restore
    assert sink.read().count() == 15                 # main untouched
    assert sink.read(branch="undo").count() == 10    # branch = restored set
    sink.publish("undo")
    assert sink.read().count() == 10


def test_current_snapshot_id_tracks_head(spark, tmp_path, batches):
    """current_snapshot_id() is the time-travel anchor callers capture
    instead of assuming sequential ids (r09 ADVICE: the Iceberg runtime
    issues random longs, so a literal as_of=1 is not portable)."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    assert sink.current_snapshot_id() == 0  # no commits yet
    sink.append(b1)
    s1 = sink.current_snapshot_id()
    sink.append(b2)
    s2 = sink.current_snapshot_id()
    assert s2 != s1
    assert sink.read(as_of=s1).count() == 10
    assert sink.read(as_of=s2).count() == 30
    # branch heads are tracked independently
    sink.append(b2.limit(0), branch="audit")
    assert sink.current_snapshot_id("audit") != s2


@pytest.mark.deep
def test_hostile_partition_values_roundtrip_lifecycle(spark, tmp_path):
    """Family #16 (r10): partition VALUES become directory names on the
    parquet backend, and four value classes break the Hive dir encoding
    itself — "" and the literal __HIVE_DEFAULT_PARTITION__ collapse into
    NULL's default dir (FileAlreadyExists mid-write or silent partition
    merge), overlong values blow the 255-byte path-component cap, and
    marker-spoofing values would decode wrongly. The write side diverts
    exactly these to injective markers and the read side recomputes the
    flagged columns from the in-file source data; numeric-looking strings
    additionally pin the inference-off + cast-to-declared contract
    ("0123" must NOT come back as int 123). Full lifecycle: append ->
    read -> _p_ filters -> overwrite_partitions (incl. the NULL partition
    — plain equality anti-joins never match NULL=NULL and silently
    DUPLICATED it) -> partition evolution."""
    from bytewax_iceberg_connector_spark.operators.partitioning import (
        ESC_MARK,
        HIVE_DEFAULT,
    )

    values = [
        "", " ", "a/b", "a=b", "a\nb", "日本語", HIVE_DEFAULT,
        "0123", "1e5", ESC_MARK + "spoof", "v" * 400, None,
        # scientific-notation DoS values (r11): written verbatim these
        # made Spark's eagerly-evaluated partition-dir decimal Try
        # materialize 10^exponent — hours per read; now diverted
        "1e438614392", "-3.2E99999",
    ]
    rows = [Row(rid=i, source=v, payload=f"p{i}")
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "rid int, source string, payload string")
    cfg = IcebergSinkConfig(
        table_name="db.hostile_pv", warehouse_path=str(tmp_path),
        num_partitions=2, partition_spec=[("source", "identity")],
    )
    sink = LakeSink(spark, cfg)
    sink.append(df)

    back = sink.read()
    got = {(r.rid, r.source, r["_p_source"]) for r in back.collect()}
    want = {(i, v, v) for i, v in enumerate(values)}
    assert got == want, (sorted(want - got), sorted(got - want))
    # declared-type contract: the mirror column stays string; "0123"
    # survives exactly (inference would have made it int 123)
    assert dict(back.dtypes)["_p_source"] == "string"

    # partition filters find every value (incl. via the recomputed path)
    for i, v in enumerate(values):
        cond = (F.col("_p_source").isNull() if v is None
                else F.col("_p_source") == v)
        assert back.where(cond & (F.col("rid") == i)).count() == 1, v

    # overwrite the NULL and "" partitions: replaced, not duplicated
    null_rid = values.index(None)
    sink.overwrite_partitions(spark.createDataFrame(
        [Row(rid=100, source=None, payload="n2"),
         Row(rid=101, source="", payload="e2")],
        "rid int, source string, payload string"))
    back2 = sink.read()
    assert back2.where(F.col("source").isNull()).count() == 1
    assert back2.where(F.col("source") == "").count() == 1
    assert back2.where(F.col("rid") == null_rid).count() == 0
    assert back2.count() == len(values)  # 2 replaced, 2 added, 2 removed

    # evolution boundary: hostile history stays readable under a new spec
    sink.evolve_partition_spec([("rid", "bucket[4]", "rid_b")])
    sink.append(spark.createDataFrame(
        [Row(rid=200, source="post", payload="pe")],
        "rid int, source string, payload string"))
    back3 = sink.read()
    assert back3.count() == len(values) + 1
    assert back3.where(F.col("source") == HIVE_DEFAULT).count() == 1
    assert back3.where(F.col("source") == "v" * 400).count() == 1


def test_hostile_name_AND_value_partition_column_recomputes(spark, tmp_path):
    """r11 ADVICE (medium): the dir component is ``<escaped name>=
    <escaped value>`` — the column NAME portion is Hive-escaped on disk
    too. esc_pcols used to record the ESCAPED spelling (``_p_a:b`` →
    ``_p_a%3Ab``), which never matched _restore_pcols' logical
    ``_p_{field_name}`` lookup, so for a partition source column with an
    escapable char in its NAME carrying a hostile VALUE the recompute was
    silently skipped and the injective marker leaked into reads
    (repro: col ``a:b``, value "" read back as ``__BIC_ESC__empty``)."""
    from bytewax_iceberg_connector_spark.operators.partitioning import (
        ESC_MARK,
        qcol,
        unescape_path_name,
    )

    # the unescape itself: exact Hive semantics incl. malformed sequences
    assert unescape_path_name("_p_a%3Ab") == "_p_a:b"
    assert unescape_path_name("%2F%5C%25") == "/\\%"
    assert unescape_path_name("plain") == "plain"
    assert unescape_path_name("100%") == "100%"      # truncated escape
    assert unescape_path_name("%zz%1") == "%zz%1"    # non-hex digits
    assert unescape_path_name("%0041") == "\x0041"   # exactly 2 digits

    values = ["", "ok", ESC_MARK + "spoof", None, "v" * 400]
    # 'a:b' = the original ADVICE repro (escapable char); 'a%3Ab' = the
    # self-review follow-up (a LOGICAL name containing a literal %XX —
    # a second unescape on read corrupted it back to 'a:b' and skipped
    # the recompute); '100%' = a truncated escape sequence
    for tno, name in enumerate(("a:b", "a%3Ab", "100%")):
        rows = [Row(rid=i, payload=f"p{i}") for i in range(len(values))]
        df = spark.createDataFrame(
            rows, "rid int, payload string"
        ).withColumn(
            name, F.array(*[F.lit(v) for v in values])[F.col("rid")]
        )
        cfg = IcebergSinkConfig(
            table_name=f"db.escname{tno}", warehouse_path=str(tmp_path),
            num_partitions=2, partition_spec=[(name, "identity")],
        )
        sink = LakeSink(spark, cfg)
        sink.append(df)

        back = sink.read()
        got = sorted((r.rid, r[f"_p_{name}"]) for r in back.collect())
        assert got == sorted((i, v) for i, v in enumerate(values)), (
            name, got)
        # the recompute must make mirror == source on every row (the
        # spoof value legitimately starts with ESC_MARK — only a
        # mirror/source MISMATCH would be a leaked marker)
        assert back.where(
            ~(qcol(f"_p_{name}").eqNullSafe(qcol(name)))
        ).count() == 0, name
        # and the recomputed column still filters exactly
        assert back.where(qcol(f"_p_{name}") == "").count() == 1, name
        assert back.where(qcol(f"_p_{name}").isNull()).count() == 1, name


@pytest.mark.deep
def test_wide_schema_evolution_fifty_commits_scales(spark, tmp_path):
    """Metadata scaling probe (r09 VERDICT item 5): 50 commits, each
    ADDING a fresh column, then every reader crosses all 50 evolution
    boundaries at once. The marker-fields union and footer-harvest
    paths had only ever seen 1-2 boundaries.

    Pins: (a) the union schema is exactly base + all 50 added columns
    with the right null pattern; (b) incremental / CDC / time-travel
    reads across the full history agree; (c) NO per-commit plan blowup —
    same-layout commits load as ONE scan (one FileScan over 50 dirs,
    its schema the union of the 50 markers' fields), not 50 unioned
    scans, so driver work stays O(files) not O(commits^2)."""
    import datetime as dt

    sink = _sink(spark, tmp_path)
    n_commits, n_rows = 50, 10
    for i in range(n_commits):
        rows = [
            Row(
                event_id=i * n_rows + j,
                ts=dt.datetime(2024, 1, 1 + (i % 27)),
                v=float(i),
                **{f"c{i}": i},
            )
            for j in range(n_rows)
        ]
        sink.append(spark.createDataFrame(rows))
    first = sink.snapshots().agg(F.min("snapshot_id")).collect()[0][0]

    back = sink.read()
    added = {f"c{i}" for i in range(n_commits)}
    assert added <= set(back.columns)
    assert back.count() == n_commits * n_rows
    # null pattern: column c_k is non-null exactly on commit k's rows
    mid = n_commits // 2
    assert back.where(F.col(f"c{mid}").isNotNull()).count() == n_rows
    assert back.where(
        (F.col(f"c{mid}") == mid)
        & (F.col("event_id") >= mid * n_rows)
        & (F.col("event_id") < (mid + 1) * n_rows)
    ).count() == n_rows

    # ONE scan over all 50 same-layout dirs (no per-commit union blowup)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert len(back.inputFiles()) >= n_commits

    # the declared schema evolved additively through all 50 commits
    declared = set(_declared(sink._log))
    assert added <= declared

    # incremental scan across 49 evolution boundaries
    inc = sink.read_incremental(first)
    assert inc.count() == (n_commits - 1) * n_rows
    assert f"c{n_commits - 1}" in inc.columns

    # CDC across the full history: every post-first row is an insert
    ch = sink.changes(first)
    assert ch.where(F.col("_change_type") == "insert").count() == (
        (n_commits - 1) * n_rows
    )

    # time travel to the midpoint sees exactly the first half's columns
    mid_snap = first + mid - 1
    half = sink.read(as_of=mid_snap)
    assert half.count() == mid * n_rows
    assert f"c{mid - 1}" in half.columns
    assert f"c{mid}" not in half.columns


def test_branch_maintenance_interleavings(spark, tmp_path, batches):
    """r10 sweep pins for the branch-threaded maintenance surface
    (scratch/branch_maintenance_sweep.py, 15 scenarios, 0 bugs): a
    DELETE as a branch's FIRST operation forks from main's head
    (Iceberg's fork-on-first-write under spark.wap.branch); expire keeps
    a branch's replacing commit readable; streaming batch ids survive a
    compact-interleaved WAP lifecycle through publish + drop_branch."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)  # main: 0..9

    # fork-on-first-maintenance
    sink.delete("event_id >= 5", branch="fixup")
    assert sink.read(branch="fixup").count() == 5
    assert sink.read().count() == 10
    sink.publish("fixup")
    assert sink.read().count() == 5

    # expire with a replacing commit on a live branch
    sink.append(b2.where("event_id < 13"), batch_id=7, branch="stage")
    sink.delete("event_id = 12", branch="stage")
    sink.expire_snapshots(keep_last=1)
    assert sink.read(branch="stage").count() == 7  # 0..4 + 10,11
    sink.compact(branch="stage")
    sink.append(b2.where("event_id >= 13 and event_id < 15"),
                batch_id=8, branch="stage")
    sink.publish("stage")
    sink.drop_branch("stage")
    assert {r.event_id for r in sink.read().collect()} == (
        set(range(5)) | {10, 11, 13, 14}
    )
    # exactly-once ids survive the compact-interleaved lifecycle
    assert {7, 8} <= sink._log.committed_batch_ids()


def test_long_string_stats_prune_is_conservative(spark, tmp_path):
    """r10 probe pin (scratch/stats_truncation_probe.py): parquet
    footers don't yield usable min/max for 10KB strings, so the stats
    harvester must OMIT the column (prune then keeps every dir) rather
    than record truncated bounds that could drop a dir holding matching
    rows."""
    import json

    p = "P" * 10000
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="db.longstr", warehouse_path=str(tmp_path),
        num_partitions=1))
    sink.append(spark.createDataFrame(
        [Row(rid=i, s=p + c) for i, c in enumerate("abc")]))
    sink.append(spark.createDataFrame(
        [Row(rid=10 + i, s=p + c) for i, c in enumerate("xyz")]))

    data = tmp_path / "db" / "longstr" / "data"
    for d in data.iterdir():
        stats = d / "_bic_stats.json"
        if stats.exists():
            assert "s" not in json.loads(stats.read_text()), (
                "long-string bounds recorded — if parquet truncated them, "
                "pruning on s could silently drop matching dirs"
            )
    got = sink.read(prune={"s": (p + "x", None)}).where(
        F.col("s") >= p + "x").count()
    assert got == 3


@pytest.mark.deep
def test_extreme_timestamps_through_partitioned_lake(spark, tmp_path):
    """r10 probe pin (scratch/extreme_ts_lake_probe.py): year-1 /
    pre-Gregorian / year-9999 / pre-epoch / NULL timestamps through day
    partitioning — dir rendering, the inference-off cast restore,
    partition filters, overwrite_partitions, and time travel all stay
    proleptic-exact. Also pins the ts_lit boundary the probe found: a
    plain Python datetime literal hybrid-shifts pre-1582 by up to 2 days
    (pyspark's py4j converter routes through java.sql.Timestamp), so
    `== datetime(1,1,3)` matches NOTHING while `== ts_lit(...)` is
    exact — functions/temporal.py documents the wart."""
    from bytewax_iceberg_connector_spark.functions.temporal import ts_lit

    ts_vals = [
        dt.datetime(1, 1, 3, 4, 5, 6),
        dt.datetime(1582, 10, 4, 12),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
        None,
    ]
    sink = _sink(spark, tmp_path)
    sink.append(spark.createDataFrame(
        [Row(event_id=i, ts=t, v=float(i)) for i, t in enumerate(ts_vals)]))
    back = sink.read()

    got = {(r.event_id, r.ts) for r in back.collect()}
    assert got == {(i, t) for i, t in enumerate(ts_vals)}
    # the restored partition mirror equals the day-trunc for every row
    assert back.where(~F.col("_p_ts_day").eqNullSafe(
        F.date_trunc("day", F.col("ts")))).count() == 0

    # partition filters via ts_lit find every extreme day
    for i, t in enumerate(ts_vals):
        cond = (F.col("_p_ts_day").isNull() if t is None
                else F.col("_p_ts_day") == ts_lit(
                    t.replace(hour=0, minute=0, second=0, microsecond=0)))
        assert back.where(cond & (F.col("event_id") == i)).count() == 1, t

    # the documented upstream wart: the plain datetime literal misses
    # (if a pyspark upgrade ever fixes the converter, this assertion
    # flips and the ts_lit docstring should be revisited)
    assert back.where(
        F.col("_p_ts_day") == dt.datetime(1, 1, 3)).count() == 0

    # overwrite the year-1 and NULL partitions: replaced, not duplicated
    sink.overwrite_partitions(spark.createDataFrame(
        [Row(event_id=100, ts=dt.datetime(1, 1, 3, 9), v=0.5),
         Row(event_id=101, ts=None, v=0.25)]))
    back2 = sink.read()
    assert back2.where("event_id = 0").count() == 0
    assert back2.where(F.col("ts").isNull()).count() == 1
    assert back2.count() == len(ts_vals)
    assert sink.read(as_of=1).count() == len(ts_vals)  # history intact


def test_hostile_column_names_roundtrip_and_merge(spark, tmp_path):
    """r10 sweep pins (scratch/hostile_column_names.py, 19 name shapes):
    Spark 4's parquet writer accepts every hostile name swept (spaces,
    newlines, unicode, quotes, backticks, parens — the old invalid-char
    rejection is gone), so the sink must round-trip them and keep every
    maintenance op working. The sweep's one real find: every place a
    column NAME LIST becomes a select/window (merge keys, copy-on-write
    projections) parsed dots as struct access — ``select("a.b")`` failed
    to resolve a literally-dotted column — fixed by exact-name
    backtick quoting (partitioning.qcol). Case-duplicate columns get a
    clean pre-commit rejection (head unchanged)."""
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="db.hostile_names", warehouse_path=str(tmp_path),
        num_partitions=1))
    name = "a.b c`d日"
    sink.append(spark.createDataFrame([(1, 2.0, 3.0)],
                                      ["rid", name, "vcol"]))
    back = sink.read()
    assert name in back.columns
    assert back.collect()[0][name] == 2.0

    # merge keyed on the hostile name (the sweep's crash site)
    sink.merge(spark.createDataFrame([(2.0, 1, 9.0)],
                                     [name, "rid", "vcol"]),
               keys=[name], tiebreak="vcol")
    got = {(r["rid"], r[name], r["vcol"]) for r in sink.read().collect()}
    assert got == {(1, 2.0, 9.0)}

    # delete + compact rewrite projections on the hostile name
    sink.append(spark.createDataFrame([(5, 7.0, 1.0)],
                                      ["rid", name, "vcol"]))
    sink.delete("rid = 5")
    sink.compact()
    assert {r[name] for r in sink.read().collect()} == {2.0}

    # case-duplicate columns: clean pre-commit rejection, table untouched
    head = sink.current_snapshot_id()
    with pytest.raises(Exception):
        sink.append(spark.createDataFrame([(1, 2.0, 3.0)],
                                          ["rid", "VCOL", "vcol"]))
    assert sink.current_snapshot_id() == head

    # hostile name as a PARTITION source (qcol in transform_column)
    sink2 = LakeSink(spark, IcebergSinkConfig(
        table_name="db.hostile_pspec", warehouse_path=str(tmp_path),
        num_partitions=1, partition_spec=[("a b", "identity")]))
    sink2.append(spark.createDataFrame([(1, "x")], ["rid", "a b"]))
    back2 = sink2.read()
    assert "_p_a b" in back2.columns
    assert back2.where(F.col("`_p_a b`") == "x").count() == 1


def test_review_findings_partition_hardening(spark, tmp_path):
    """r10 self-review regression pins:
    (1) a DOTTED partition field name survives overwrite_partitions (the
        null-safe join's alias refs needed qname);
    (2) a post-spec-evolution bucket column keeps its INT type (declared
        schema never learns evolved _p_ columns, so the restore derives
        the type from the spec transform — without it, inference-off
        regressed it to string);
    (3) config.sort_order still orders rows inside files when a STRING
        partition column triggers the hostile-value encode (applied
        before the sort chain, not after);
    (4) a long partition NAME shrinks the value budget: 36-char name +
        220-byte clean value diverts instead of blowing the 255-byte
        path component cap."""
    import pyarrow.parquet as papq

    # (1) dotted partition SOURCE column -> dotted `_p_a.b` field name
    s1 = LakeSink(spark, IcebergSinkConfig(
        table_name="db.dotted", warehouse_path=str(tmp_path),
        num_partitions=1, partition_spec=[("a.b", "identity")]))
    s1.append(spark.createDataFrame([(1, "a"), (2, "b")], ["rid", "a.b"]))
    s1.overwrite_partitions(
        spark.createDataFrame([(9, "a")], ["rid", "a.b"]))
    got = {(r["rid"], r["a.b"]) for r in s1.read().collect()}
    assert got == {(9, "a"), (2, "b")}

    # (2) post-evolution bucket column type
    s2 = LakeSink(spark, IcebergSinkConfig(
        table_name="db.evotype", warehouse_path=str(tmp_path),
        num_partitions=1, partition_spec=[("ts", "day")]))
    s2.append(spark.createDataFrame(
        [Row(event_id=1, ts=dt.datetime(2024, 1, 1))]))
    s2.evolve_partition_spec([("event_id", "bucket[4]", "eb")])
    s2.append(spark.createDataFrame(
        [Row(event_id=10, ts=dt.datetime(2024, 1, 2))]))
    back = s2.read()
    assert dict(back.dtypes)["_p_eb"] == "int", back.dtypes
    assert back.where(F.col("_p_eb").isNotNull()).count() == 1

    # (3) sort_order survives the hostile-value encode on a string pcol
    s3 = LakeSink(spark, IcebergSinkConfig(
        table_name="db.sorted_str", warehouse_path=str(tmp_path),
        num_partitions=1, partition_spec=[("grp", "identity")],
        sort_order=["v desc"]))
    s3.append(spark.createDataFrame(
        [Row(rid=i, grp="g" + str(i % 2), v=float(i)) for i in range(40)]))
    data_dir = os.path.join(str(tmp_path), "db", "sorted_str", "data")
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(data_dir)
             for f in fs if f.endswith(".parquet")]
    assert files
    for f in files:
        vs = papq.read_table(f, columns=["v"]).column("v").to_pylist()
        assert vs == sorted(vs, reverse=True), f

    # (4) long name + long clean value diverts, round-trips
    long_name = "customer_email_domain_normalized_v2"
    s4 = LakeSink(spark, IcebergSinkConfig(
        table_name="db.longname", warehouse_path=str(tmp_path),
        num_partitions=1, partition_spec=[(long_name, "identity")]))
    val = "v" * 220
    s4.append(spark.createDataFrame([(1, val)], ["rid", long_name]))
    back4 = s4.read()
    assert back4.collect()[0][long_name] == val
    assert back4.where(F.col(f"`_p_{long_name}`") == val).count() == 1


# -- hostile family #18: torn-process crash injection (r10 VERDICT item 5)
#
# Every metadata operation (a write's dir reservation→v-file, publish's
# and evolve's single v-file, expire's tombstone→rmtree,
# drop_branch's rehome→tombstone→rmtree) is swept with a simulated
# process kill before EVERY one of its steps: run
# the op on a fresh copy of a pristine table with a step budget, let the
# injected kill fire, REOPEN the table cold, and assert either a
# consistent model state (pre-op, post-op, or a documented harmless
# intermediate) or a documented loud error — never silent divergence.


class _InjectedCrash(BaseException):
    """Simulated kill — BaseException so no ``except Exception`` in the
    engine can swallow it and carry on half-dead."""


@contextlib.contextmanager
def _crash_after_steps(log, limit):
    """Patch the SnapshotLog instance's torn-able step primitives —
    ``new_commit_dir`` (a write reserving its data dir), ``_atomic_write``
    (rehome), ``_atomic_create`` (v-file commit),
    ``_unlink_snapshot`` (tombstone rename) — plus
    ``shutil.rmtree`` (data-dir removal) so that after ``limit``
    completed steps the next one raises :class:`_InjectedCrash`.
    ``limit=None`` counts steps without crashing. Yields the counter
    dict (``steps``)."""
    import shutil as _sh

    state = {"steps": 0}

    def wrap(fn):
        def inner(*a, **kw):
            if limit is not None and state["steps"] >= limit:
                raise _InjectedCrash(f"killed before step {state['steps'] + 1}")
            out = fn(*a, **kw)
            state["steps"] += 1
            return out

        return inner

    orig_rm = _sh.rmtree
    log.new_commit_dir = wrap(SnapshotLog.new_commit_dir.__get__(log))
    log._atomic_write = wrap(SnapshotLog._atomic_write.__get__(log))
    log._atomic_create = wrap(SnapshotLog._atomic_create.__get__(log))
    log._unlink_snapshot = wrap(SnapshotLog._unlink_snapshot.__get__(log))
    _sh.rmtree = wrap(orig_rm)
    try:
        yield state
    finally:
        _sh.rmtree = orig_rm
        for n in ("new_commit_dir", "_atomic_write", "_atomic_create",
                  "_unlink_snapshot"):
            log.__dict__.pop(n, None)


def _sweep(pristine_table, op, tmp_path, tag):
    """Run ``op(log)`` once per crash point over copies of the pristine
    table dir; yield (crash_point, reopened_table_path). The final yield
    is (n_steps, path-after-uncrashed-run) so callers can also assert
    the clean completion on the same machinery."""
    import shutil as _sh

    scratch = str(tmp_path / f"{tag}_count")
    _sh.copytree(pristine_table, scratch)
    counter_log = SnapshotLog(scratch)
    with _crash_after_steps(counter_log, None) as st:
        op(counter_log)
    total = st["steps"]
    assert total >= 1, f"{tag}: op makes no metadata step"
    for k in range(total + 1):
        dst = str(tmp_path / f"{tag}_{k}")
        _sh.copytree(pristine_table, dst)
        log = SnapshotLog(dst)
        if k < total:
            with _crash_after_steps(log, k):
                with pytest.raises(_InjectedCrash):
                    op(log)
        else:
            op(log)  # uncrashed control run through the same wrappers
        yield k, dst


def test_crash_sweep_torn_publish(spark, tmp_path, batches):
    """Kill publish before its one metadata step (the fast-forward
    v-file): reopened main must read as exactly pre-publish or
    post-publish live state, the staged column is declared exactly when
    the published data is, streaming batch ids are never lost, and a
    retried publish converges to the fully-published, fully-declared
    state."""
    b1, _ = batches
    pristine = tmp_path / "pristine"
    sink = _sink(spark, pristine)
    sink.append(b1, batch_id=11)
    sink.append(
        spark.createDataFrame(
            [Row(event_id=100, ts=dt.datetime(2024, 1, 2, 10),
                 v=1.0, q=2.5)]
        ),
        branch="audit",
    )
    src = SnapshotLog(sink._path)
    pre_live = frozenset(src.live_commits())
    post_live = frozenset(src.live_commits(src.current_id("audit")))
    assert pre_live != post_live

    converged = []
    for k, dst in _sweep(sink._path, lambda lg: lg.publish("audit"),
                         tmp_path, "pub"):
        log = SnapshotLog(dst)
        live = frozenset(log.live_commits())
        assert live in (pre_live, post_live), (k, live)
        assert ("q" in _declared(log)) == (live == post_live), k
        assert 11 in log.committed_batch_ids(), k
        # retry from the reopened state: publish is re-enterable
        # (republish-of-self)
        log.publish("audit")
        assert frozenset(log.live_commits()) == post_live, k
        assert "q" in _declared(log), k
        converged.append(dst)
    # the converged state is actually readable (one Spark read, last copy)
    reopened = LakeSink(spark, IcebergSinkConfig(
        table_name=os.path.basename(converged[-1]),
        warehouse_path=str(tmp_path), num_partitions=2,
        partition_spec=[("ts", "day")], location=converged[-1],
    ))
    back = reopened.read()
    assert back.count() == 11 and "q" in back.columns


def test_crash_sweep_torn_expire(spark, tmp_path, batches):
    """Kill expire between ANY two steps (per-snapshot tombstone unlinks
    → data-dir rmtrees): the head live set never changes, committed
    batch ids are NEVER lost (the retained head carries them all, and
    expire writes no v-file), every still-retained snapshot stays readable,
    an unlinked one fails loudly, and a re-run of expire from the torn
    state converges."""
    b1, b2 = batches
    pristine = tmp_path / "pristine"
    sink = _sink(spark, pristine)
    sink.append(b1, batch_id=1)
    sink.append(b2, batch_id=2)
    sink.overwrite(b1.limit(3), batch_id=3)
    src = SnapshotLog(sink._path)
    head_live = frozenset(src.live_commits())
    head_id = src.current_id()

    last = None
    for k, dst in _sweep(sink._path, lambda lg: lg.expire(keep_last=1),
                         tmp_path, "exp"):
        log = SnapshotLog(dst)
        assert frozenset(log.live_commits()) == head_live, k
        assert log.committed_batch_ids() >= {1, 2, 3}, k
        # every dir the head references must still exist on disk
        for d in head_live:
            assert os.path.isdir(os.path.join(log.data_dir, d)), (k, d)
        # unlinked snapshots fail loudly; retained ones resolve
        for sid in (1, 2):
            if log._maybe_snapshot(sid) is None:
                with pytest.raises(LookupError):
                    log.snapshot(sid)
        # re-run converges: history trimmed, ids and head intact
        log.expire(keep_last=1)
        assert {s["snapshot_id"] for s in log.snapshots()} == {head_id}, k
        assert log.committed_batch_ids() >= {1, 2, 3}, k
        assert frozenset(log.live_commits()) == head_live, k
        last = dst
    reopened = LakeSink(spark, IcebergSinkConfig(
        table_name=os.path.basename(last), warehouse_path=str(tmp_path),
        num_partitions=2, partition_spec=[("ts", "day")], location=last,
    ))
    assert reopened.read().count() == 3


def test_crash_sweep_torn_drop_branch(spark, tmp_path, batches):
    """Kill drop_branch between ANY two steps (tagged-snapshot rehome →
    tombstone unlinks → data-dir rmtrees): main's live set never
    changes, the tag always keeps resolving to a readable snapshot
    (rehome is one atomic write), and a retry either finishes the drop
    or reports the branch already gone — never a half-dead branch that
    reads differently from both."""
    b1, _ = batches
    pristine = tmp_path / "pristine"
    sink = _sink(spark, pristine)
    sink.append(b1)
    sink.append(b1.limit(2), branch="audit")
    sink.append(b1.limit(1), branch="audit")
    src = SnapshotLog(sink._path)
    first_branch_sid = min(
        s["snapshot_id"] for s in src.snapshots()
        if s.get("branch") == "audit"
    )
    src.set_tag("rel", first_branch_sid)
    main_live = frozenset(src.live_commits())
    tag_live = frozenset(src.snapshot(first_branch_sid)["live"])

    last = None
    for k, dst in _sweep(sink._path, lambda lg: lg.drop_branch("audit"),
                         tmp_path, "drop"):
        log = SnapshotLog(dst)
        assert frozenset(log.live_commits()) == main_live, k
        # the tag must resolve to a readable (rehomed or original)
        # snapshot at every crash point, and its data dirs must exist
        sid = log.resolve_tag("rel")
        snap = log.snapshot(sid)
        assert frozenset(snap["live"]) == tag_live, k
        for d in snap["live"]:
            assert os.path.isdir(os.path.join(log.data_dir, d)), (k, d)
        # a rehomed tagged snapshot must never advance main
        assert log.current_id() == max(
            s["snapshot_id"] for s in log.snapshots()
            if s.get("branch", "main") == "main"
        ), k
        # retry: either completes the drop or says the branch is gone
        try:
            log.drop_branch("audit")
        except LookupError:
            pass
        assert "audit" not in log.branches(), k
        assert frozenset(log.live_commits()) == main_live, k
        assert frozenset(log.snapshot(log.resolve_tag("rel"))["live"]) \
            == tag_live, k
        last = dst
    reopened = LakeSink(spark, IcebergSinkConfig(
        table_name=os.path.basename(last), warehouse_path=str(tmp_path),
        num_partitions=2, partition_spec=[("ts", "day")], location=last,
    ))
    assert reopened.read().count() == 10


@pytest.mark.deep
def test_crash_sweep_torn_publish_then_audit_fail_drop(spark, tmp_path,
                                                       batches):
    """After a publish killed at ANY step, the operator decides the
    audit FAILED and drops the branch instead of retrying. If the
    fast-forward v-file never landed, main must read exactly pre-publish
    and the staged rows vanish with the branch; if it landed, the
    published rows are main's and must survive the drop (the publish
    snapshot carries its own live list), and so must its declared
    column. Either way the next main write lands on top."""
    b1, _ = batches
    pristine = tmp_path / "pristine"
    sink = _sink(spark, pristine)
    sink.append(b1, batch_id=11)
    sink.append(
        spark.createDataFrame(
            [Row(event_id=100, ts=dt.datetime(2024, 1, 2, 10),
                 v=1.0, q=2.5)]
        ),
        branch="audit",
    )
    src = SnapshotLog(sink._path)
    pre_live = frozenset(src.live_commits())
    post_live = frozenset(src.live_commits(src.current_id("audit")))

    for k, dst in _sweep(sink._path, lambda lg: lg.publish("audit"),
                         tmp_path, "pubdrop"):
        log = SnapshotLog(dst)
        published = frozenset(log.live_commits()) == post_live
        try:
            log.drop_branch("audit")
        except LookupError:
            pass  # drop raced nothing here, but publish may have
            # re-homed the branch pointer; gone is gone
        assert "audit" not in log.branches(), k
        live = frozenset(log.live_commits())
        assert live == (post_live if published else pre_live), k
        assert 11 in log.committed_batch_ids(), k
        assert ("q" in _declared(log)) == published, k
        for d in live:
            assert os.path.isdir(os.path.join(log.data_dir, d)), (k, d)
        reopened = LakeSink(spark, IcebergSinkConfig(
            table_name=os.path.basename(dst), warehouse_path=str(tmp_path),
            num_partitions=2, partition_spec=[("ts", "day")],
            location=dst,
        ))
        reopened.append(b1.limit(1))
        want = 10 + (1 if published else 0) + 1
        assert reopened.read().count() == want, k


def test_corrupted_metadata_fails_loudly_never_silently(spark, tmp_path,
                                                        batches):
    """Family #19 seed (external tampering / disk corruption): a v-file
    that no longer parses — or parses to an empty object — must make
    every metadata consumer that reads it RAISE, never silently skip the
    snapshot (a silent skip would shrink live sets and regress heads with
    no signal; our own crashes can't produce torn v-files — writes are
    atomic renames — so any unparseable file is external damage the
    engine must refuse to guess around). Head, id and batch-id lookups
    read only the newest v-file and the heads it names, so a damaged
    OLDER v-file leaves them exact, and a damaged newest one fails them
    all."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2)
    log = sink._log
    older = os.path.join(log.meta_dir, "v1.json")
    newest = os.path.join(log.meta_dir, "v2.json")
    originals = {p: open(p).read() for p in (older, newest)}

    def raises_loudly(fn):
        with pytest.raises(Exception) as exc:
            fn()
        assert not isinstance(exc.value, LookupError)  # not "expired"

    # (1) garbled JSON: every metadata consumer reading the file raises
    with open(older, "w") as f:
        f.write(originals[older][: len(originals[older]) // 2])
    for fn in (log.snapshots, lambda: log.snapshot(1),
               lambda: sink.read(as_of=1).count(),
               lambda: log.expire(keep_last=1)):
        raises_loudly(fn)
    assert log.current_id() == 2 and sink.read().count() == 30
    with open(older, "w") as f:
        f.write(originals[older])
    with open(newest, "w") as f:
        f.write(originals[newest][: len(originals[newest]) // 2])
    for fn in (log.snapshots, log.current_id, lambda: log.snapshot(2),
               log.committed_batch_ids, lambda: sink.read().count()):
        raises_loudly(fn)

    # (2) valid-but-empty JSON object: consumers that need its fields
    # still fail loudly instead of treating it as an empty snapshot
    with open(newest, "w") as f:
        f.write("{}")
    for fn in (log.current_id, lambda: sink.read().count()):
        with pytest.raises(ValueError, match="layout"):
            fn()
    with open(newest, "w") as f:
        f.write(originals[newest])
    with open(older, "w") as f:
        f.write("{}")
    with pytest.raises(Exception):
        sink.read(as_of=1).count()

    # (3) restored: everything reads again, nothing was "healed" away
    with open(older, "w") as f:
        f.write(originals[older])
    assert sink.read().count() == 30
    assert sink.read(as_of=1).count() == 10


def test_corrupted_commit_marker_fails_loudly(spark, tmp_path, batches):
    """Family #19, marker arm: _bic_spec.json writes are atomic and
    precede the snapshot commit, so a referenced dir can never carry a
    torn marker from our own crashes — an unparseable marker is external
    damage, and the old degrade-to-{} path silently skipped the
    esc_pcols recompute (marker values leaking into reads) and
    mis-grouped the schema fingerprint. Reads must refuse loudly, and
    so for a MISSING marker: every commit dir is written with one."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    log = sink._log
    d = log.commit_paths()[0]
    marker = os.path.join(d, "_bic_spec.json")
    original = open(marker).read()

    with open(marker, "w") as f:
        f.write(original[: len(original) // 2])
    with pytest.raises(ValueError, match="corrupt commit marker"):
        sink.read().count()

    os.unlink(marker)
    with pytest.raises(ValueError, match="corrupt commit marker"):
        sink.read().count()

    with open(marker, "w") as f:
        f.write(original)
    assert sink.read().count() == 10


def test_sci_notation_dir_components_never_reach_the_parser(spark,
                                                            tmp_path,
                                                            batches):
    """r11 DoS find: Spark's partition-dir parser evaluates its decimal
    ``Try`` EAGERLY even with type inference disabled (upstream bug), so
    any dir component matching ``<digits>e<huge digits>`` materializes
    10^exponent as a BigInteger — an hours-long driver spin per read.
    Two engine-side guarantees pin the workaround:
    1. commit-dir names lead with ``g`` (``_c=g<hex>``) so a random hex
       like ``670286e438614392`` (~1/1100 per name — this EXACT name
       wedged a live suite run for 25 minutes) can never parse;
    2. hostile VALUES in full numeric-with-big-exponent form are
       diverted to injective markers at write and recomputed exactly at
       read (small exponents like "1e5" stay verbatim)."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    assert all(c.startswith("_c=g") for c in sink._log.live_commits())

    cfg = IcebergSinkConfig(
        table_name="db.scibomb", warehouse_path=str(tmp_path),
        num_partitions=2, partition_spec=[("source", "identity")],
    )
    s2 = LakeSink(spark, cfg)
    s2.append(spark.createDataFrame(
        [Row(rid=0, source="1e438614392", payload="a"),
         Row(rid=1, source="1e5", payload="b"),
         Row(rid=2, source="-3.2E99999", payload="c"),
         Row(rid=3, source="2024e7", payload="d")],
        "rid int, source string, payload string"))
    got = sorted((r.rid, r["_p_source"]) for r in s2.read().collect())
    assert got == [(0, "1e438614392"), (1, "1e5"),
                   (2, "-3.2E99999"), (3, "2024e7")], got
    # the small-exponent values really are verbatim dir components
    # (pruning intact); the bombs really are diverted
    import os as _os

    comps = {
        dn.split("=", 1)[1]
        for d in s2._log.commit_paths()
        for dn in _os.listdir(d)
        if dn.startswith("_p_")
    }
    assert "1e5" in comps and "2024e7" in comps
    assert not any("438614392" in c or "99999" in c for c in comps)


# ---------------------------------------------------------------------------
# REAL multi-process commit contention: threads share the GIL and an
# address space, so they cannot produce every interleaving of the v-file
# race — forked processes can. Children touch ONLY files and os._exit
# (never the inherited JVM gateway).
# ---------------------------------------------------------------------------


def _bare_log(tmp_path):
    log = SnapshotLog(str(tmp_path / "t"))
    log.init_table({
        "schema_json": {"type": "struct", "fields": [
            {"name": "a", "type": "long"}]},
    })
    return log


def _wait_all(pids):
    fails = []
    for pid in pids:
        _, status = os.waitpid(pid, 0)
        if os.waitstatus_to_exitcode(status) != 0:
            fails.append((pid, status))
    return fails


def test_forked_processes_contend_evolve_no_lost_update(tmp_path):
    """8 REAL processes each commit one distinct column add at once: every
    attempt rebuilds its schema from the head it read, and the loser of
    each v-file race retries against the winner's, so every column is
    declared afterward and table.json is never touched."""
    log = _bare_log(tmp_path)
    table_json = os.path.join(log.meta_dir, "table.json")
    before = open(table_json, "rb").read()
    pids = []
    for i in range(8):
        pid = os.fork()
        if pid == 0:  # child: commit one column add, exit hard
            code = 1
            try:
                log.commit("append", [], retries=64,
                           new_fields=[{"name": f"c{i}", "type": "long",
                                        "nullable": True, "metadata": {}}])
                code = 0
            finally:
                os._exit(code)  # never run pytest teardown in the child
        pids.append(pid)
    assert _wait_all(pids) == []
    assert {f"c{i}" for i in range(8)} <= set(_declared(log))
    assert log.current_id() == 8
    assert open(table_json, "rb").read() == before


# -- rewrites racing appends: a rewrite replaces only the dirs it read ------


def _land_during(monkeypatch, operation, concurrent):
    """Run ``concurrent()`` in a thread, to completion, when the first
    ``operation`` commit starts — after that operation read the table
    and wrote its data dir, before its snapshot commit. Returns the list
    the thread's exception lands in."""
    import threading

    orig = SnapshotLog.commit
    errors: list[BaseException] = []
    fired = []

    def run():
        try:
            concurrent()
        except BaseException as e:  # pragma: no cover
            errors.append(e)

    def commit(self, op, added, **kw):
        if op == operation and not fired:
            fired.append(op)
            t = threading.Thread(target=run)
            t.start()
            t.join()
        return orig(self, op, added, **kw)

    monkeypatch.setattr(SnapshotLog, "commit", commit)
    return errors


def _ids(sink, **kw):
    return sorted(r.event_id for r in sink.read(**kw).select("event_id")
                  .collect())


def test_compact_racing_an_append_keeps_its_rows(spark, tmp_path, batches,
                                                 monkeypatch):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1, batch_id=0)
    errors = _land_during(monkeypatch, "replace",
                          lambda: sink.append(b2, batch_id=1))
    sink.compact()
    assert errors == []
    assert _ids(sink) == list(range(30))
    assert sink._log.committed_batch_ids() >= {0, 1}


def test_merge_racing_an_append_keeps_its_rows(spark, tmp_path, batches,
                                               monkeypatch):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1, batch_id=0)
    errors = _land_during(monkeypatch, "overwrite",
                          lambda: sink.append(b2, batch_id=1))
    sink.merge(spark.createDataFrame(
        [Row(event_id=5, ts=dt.datetime(2024, 1, 3, 10), v=99.0)]),
        keys=["event_id"])
    assert errors == []
    assert _ids(sink) == list(range(30))
    assert [r.v for r in sink.read().where("event_id = 5").collect()] == [99.0]


def test_two_rewrites_of_one_read_conflict(spark, tmp_path, batches,
                                           monkeypatch):
    """A delete that lands between a compaction's read and its commit
    replaced the dirs the compaction read: the compaction raises
    CommitConflict instead of resurrecting the deleted rows, and leaves
    no data dir behind."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    errors = _land_during(monkeypatch, "replace",
                          lambda: sink.delete("event_id < 5"))
    with pytest.raises(CommitConflict, match="already replaced"):
        sink.compact()
    assert errors == []
    assert _ids(sink) == list(range(5, 10))
    assert sorted(os.listdir(sink._log.data_dir)) == sorted(
        sink._log.live_commits() + sink._log.snapshot(1)["live"])


def test_concurrent_column_adds_both_land(spark, tmp_path, batches,
                                          monkeypatch):
    """Two appends that add different columns compose through the commit
    retry; one that adds a column a racing append committed with another
    type is rejected, and its data dir removed."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    one = b1.limit(1)
    errors = _land_during(monkeypatch, "append", lambda: sink.append(
        one.withColumn("y", F.lit(1.5))))
    sink.append(one.withColumn("x", F.lit(1).cast("long")))
    assert errors == []
    assert {"x": "long", "y": "double"}.items() <= _declared(sink._log).items()
    assert {"x", "y"} <= set(sink.read().columns)
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(one.withColumn("y", F.lit(2).cast("long")))

    monkeypatch.undo()
    errors = _land_during(monkeypatch, "append", lambda: sink.append(
        one.withColumn("z", F.lit("s"))))
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(one.withColumn("z", F.lit(3).cast("long")))
    assert errors == []
    assert _declared(sink._log)["z"] == "string"
    live = set(sink._log.live_commits())
    assert {d for d in os.listdir(sink._log.data_dir)} == live


def test_table_json_never_changes_after_creation(spark, tmp_path, batches):
    """Column adds, spec evolution, publish, rollback and expiry all
    commit v-files; table.json keeps the bytes it was created with."""
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    path = os.path.join(sink._log.meta_dir, "table.json")
    with open(path, "rb") as f:
        created = f.read()
    first = sink.current_snapshot_id()
    sink.append(b2.limit(2).withColumn("q", F.lit(2.5)))
    sink.evolve_partition_spec([("event_id", "bucket[2]")])
    sink.append(b2.limit(1).withColumn("r", F.lit(1).cast("long")),
                branch="audit")
    sink.publish("audit")
    sink.rollback(first)
    sink.expire_snapshots(keep_last=1)
    with open(path, "rb") as f:
        assert f.read() == created
    # rollback restores data, never the schema: q and r stay declared
    assert {"q", "r"} <= set(_declared(sink._log))
    assert _ids(sink) == list(range(10))


def test_branch_forked_before_partition_evolution_publishes(spark, tmp_path,
                                                            batches):
    b1, b2 = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    sink.append(b2.withColumn("q", F.lit(1.5)), branch="audit")
    sink.evolve_partition_spec([("event_id", "bucket[2]")])
    sink.publish("audit")
    assert _ids(sink) == list(range(30))
    assert _declared(sink._log)["q"] == "double"
    # later main commits use the evolved spec; the staged rows keep theirs
    sink.append(b1.limit(1).withColumn("event_id", F.lit(99).cast("long")))
    spec_ids = {r._spec_id for r in sink.read(with_spec_id=True).collect()}
    assert spec_ids == {0, 1}


def test_torn_publish_fold_self_heals(spark, tmp_path, batches):
    """A publish killed at its one metadata step leaves no torn fold: the
    published column and its data land in the same v-file create, so
    main either holds both or neither. The type-change hole stays shut
    on the branch while the publish is dead, and a retried publish
    declares the column, after which a type-changing main write of it
    is rejected."""
    b1, _ = batches
    sink = _sink(spark, tmp_path)
    sink.append(b1)
    # stage a branch commit that ADDS column q (double)
    sink.append(
        spark.createDataFrame(
            [Row(event_id=100, ts=dt.datetime(2024, 1, 2, 10),
                 v=1.0, q=2.5)]
        ),
        branch="audit",
    )
    q_long = spark.createDataFrame(
        [Row(event_id=101, ts=dt.datetime(2024, 1, 3, 10), v=2.0, q=7)])

    with _crash_after_steps(sink._log, 0):
        with pytest.raises(_InjectedCrash):
            sink.publish("audit")

    # nothing torn: q is neither main-visible data nor declared on main
    assert "q" not in sink.read().columns
    assert "q" not in _declared(sink._log)
    assert _declared(sink._log, "audit")["q"] == "double"
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(q_long, branch="audit")

    sink.publish("audit")
    assert "q" in sink.read().columns
    assert _declared(sink._log)["q"] == "double"
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(q_long)
    assert _declared(sink._log)["q"] == "double"


def test_torn_main_evolve_self_heals(spark, tmp_path, batches):
    """A main write that ADDS a column, killed before each of its steps
    (data-dir reservation, v-file create), never leaves the column in
    committed data without its declaration: the column binds exactly
    when its rows are visible. Once the add commits — at once, or by
    retrying the killed write — a type-changing write of the column is
    rejected and the column reads back with its first type."""
    b1, _ = batches
    sink = _sink(spark, tmp_path / "pristine")
    sink.append(b1)
    q_double = [Row(event_id=100, ts=dt.datetime(2024, 1, 2, 10),
                    v=1.0, q=2.5)]
    q_long = [Row(event_id=101, ts=dt.datetime(2024, 1, 3, 10), v=2.0, q=7)]

    def reopened(log):
        s = LakeSink(spark, IcebergSinkConfig(
            table_name=os.path.basename(log.table_path),
            warehouse_path=str(tmp_path), num_partitions=2,
            partition_spec=[("ts", "day")], location=log.table_path,
        ))
        s._log = log
        return s

    crashed = 0
    for k, dst in _sweep(
            sink._path,
            lambda lg: reopened(lg).append(spark.createDataFrame(q_double)),
            tmp_path, "evolve"):
        s = reopened(SnapshotLog(dst))
        visible = "q" in s.read().columns
        assert visible == ("q" in _declared(s._log)), k
        if not visible:
            crashed += 1
            assert s.read().count() == 10, k
            s.append(spark.createDataFrame(q_double))
        with pytest.raises(ValueError, match="additive-only"):
            s.append(spark.createDataFrame(q_long))
        assert _declared(s._log)["q"] == "double", k
        back = s.read()
        assert back.count() == 11, k
        assert [r.q for r in back.where("event_id = 100").collect()] == [2.5]
    assert crashed >= 1


def test_crash_sweep_schema_invariants(spark, tmp_path, batches):
    """Kill a column-adding write, a publish, a spec evolution, an expiry
    and a branch drop before each of their metadata steps, reopen the
    table, and check: a committed column keeps binding its type (a
    type-changing commit is rejected), a staged column is declared on
    main exactly when its publish landed and never after a drop, and the
    head's live set, schema and spec read as exactly pre-op or post-op."""
    b1, _ = batches
    sink = _sink(spark, tmp_path / "pristine")
    sink.append(b1, batch_id=1)
    sink.append(b1.limit(2).withColumn("q", F.lit(2.5)))
    sink.append(b1.limit(1).withColumn("r", F.lit(7).cast("long")),
                branch="audit")
    # two metadata-only main snapshots after the fork: the branch still
    # publishes across them, and expire has one to drop (the branch
    # retains main's lineage up to its fork)
    for _ in range(2):
        sink.evolve_partition_spec([("ts", "day")])
    src = SnapshotLog(sink._path)
    pre_live = frozenset(src.live_commits())
    q_long = {"name": "q", "type": "long", "nullable": True, "metadata": {}}

    def reopened(dst):
        return LakeSink(spark, IcebergSinkConfig(
            table_name=os.path.basename(dst), warehouse_path=str(tmp_path),
            num_partitions=2, partition_spec=[("ts", "day")], location=dst,
        ))

    def write(log):
        s = reopened(log.table_path)
        s._log = log
        s.append(b1.limit(1).withColumn("w", F.lit("x")))

    ops = {
        "write": write,
        "publish": lambda lg: lg.publish("audit"),
        "evolve": lambda lg: lg.evolve_spec([["event_id", "bucket[2]",
                                              "event_id_bucket"]]),
        "expire": lambda lg: lg.expire(keep_last=1),
        "drop": lambda lg: lg.drop_branch("audit"),
    }
    for name, op in ops.items():
        seen = []
        for k, dst in _sweep(sink._path, op, tmp_path, name):
            log = SnapshotLog(dst)
            declared = _declared(log)
            live = frozenset(log.live_commits())
            head = (frozenset(live & pre_live), len(live - pre_live),
                    tuple(sorted(declared)),
                    log.table_state(log.head())["spec_id"])
            seen.append(head)
            assert declared["q"] == "double", (name, k)
            with pytest.raises(ValueError, match="additive-only"):
                log.commit("append", [], new_fields=[q_long])
            if name != "publish":
                assert "r" not in declared, (name, k)
            assert 1 in log.committed_batch_ids(), (name, k)
            assert reopened(dst).read().count() in (12, 13), (name, k)
        assert all(h in (seen[0], seen[-1]) for h in seen), (name, seen)
        if name == "publish":
            assert ["r" in h[2] for h in (seen[0], seen[-1])] == [False, True]

