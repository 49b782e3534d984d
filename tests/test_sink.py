"""LakeSink tests (A1/A2/A6/A9 on the parquet-warehouse backend)."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row

from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators.sink import LakeSink


@pytest.fixture()
def events_df(spark):
    return spark.createDataFrame(
        [
            Row(event_id=i, ts=dt.datetime(2024, 1, 1 + i % 3, 10, 0, 0), v=float(i))
            for i in range(30)
        ]
    )


def _sink(spark, tmp_path, **kw):
    cfg = IcebergSinkConfig(
        table_name="db.events",
        warehouse_path=str(tmp_path),
        num_partitions=2,
        partition_spec=[("ts", "day")],
        **kw,
    )
    return LakeSink(spark, cfg)


def test_config_type_validation(spark):
    # connector.py:451-454 parity: reject non-config objects
    with pytest.raises(TypeError):
        LakeSink(spark, {"table_name": "db.t"})


def test_append_and_readback(spark, tmp_path, events_df):
    sink = _sink(spark, tmp_path)
    assert not sink.table_exists()
    sink.append(events_df)
    assert sink.table_exists()
    back = sink.read()
    assert back.count() == 30
    # hidden-partition layout on disk: one commit dir, one dir per day in it
    data_dir = os.path.join(str(tmp_path), "db", "events", "data")
    commits = [d for d in os.listdir(data_dir) if d.startswith("_c=")]
    assert len(commits) == 1
    dirs = [
        d for d in os.listdir(os.path.join(data_dir, commits[0]))
        if d.startswith("_p_ts_day=")
    ]
    assert len(dirs) == 3


def test_append_twice_accumulates(spark, tmp_path, events_df):
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    sink.append(events_df)
    assert sink.read().count() == 60


def test_unpartitioned_append(spark, tmp_path, events_df):
    cfg = IcebergSinkConfig(table_name="db.plain", warehouse_path=str(tmp_path))
    sink = LakeSink(spark, cfg)
    sink.append(events_df)  # {None: records} path, connector.py:286-288
    assert sink.read().count() == 30


def test_roundtrip_values_survive(spark, tmp_path, events_df):
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    got = sorted((r.event_id, r.v) for r in sink.read().collect())
    want = sorted((r.event_id, r.v) for r in events_df.collect())
    assert got == want


def test_schema_evolution_additive(spark, tmp_path, events_df):
    """Additive schema evolution — the upgrade over the reference's
    'Static schemas only' constraint (reference README.md:68): a later
    batch with a NEW column appends cleanly and the default read
    surfaces it (nulls for pre-evolution rows)."""
    from pyspark.sql import functions as F

    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    evolved = events_df.withColumn("quality", F.col("v") / 10.0)
    sink.append(evolved)

    back = sink.read()
    assert "quality" in back.columns
    assert back.count() == 60
    assert back.where(F.col("quality").isNull()).count() == 30


def test_orc_file_format_roundtrip(spark, tmp_path, events_df):
    """A20 file_format: the configured format actually lands on disk (orc
    here — the round-1-style 'accepted but unapplied config' trap)."""
    import glob

    from bytewax_iceberg_connector_spark.config import FileFormat

    sink = _sink(spark, tmp_path, file_format=FileFormat.ORC)
    sink.append(events_df)
    files = glob.glob(os.path.join(str(tmp_path), "db", "events", "data", "**", "*.orc"),
                      recursive=True)
    assert files, "orc data files must exist"
    assert sink.read().count() == 30
    assert sink.read(as_of=1).count() == 30


def test_avro_without_package_raises_clearly(spark, tmp_path, events_df):
    from bytewax_iceberg_connector_spark.config import FileFormat
    from bytewax_iceberg_connector_spark.operators.sink import iceberg_runtime_available

    sink = _sink(spark, tmp_path, file_format=FileFormat.AVRO)
    jvm = spark._jvm
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", jvm.org.apache.spark.sql.internal.SQLConf.get()
        )
        has_avro = True
    except Exception:
        has_avro = False
    if has_avro:
        sink.append(events_df)
        assert sink.read().count() == 30
    else:
        with pytest.raises(ValueError, match="spark-avro"):
            sink.append(events_df)


def test_partition_evolution_layout_and_union(spark, tmp_path, events_df):
    """Iceberg partition evolution on the parquet backend: evolve the spec
    mid-history, old commits keep their layout on disk, read() unions
    across spec boundaries, appends after evolution use the new spec."""
    sink = _sink(spark, tmp_path)          # spec: day(ts)
    sink.append(events_df)
    sink.evolve_partition_spec([("event_id", "bucket[4]")])
    sink.append(events_df)

    back = sink.read()
    assert back.count() == 60
    # both layouts' key columns surface, null-filled across the boundary
    assert "_p_ts_day" in back.columns
    assert "_p_event_id_bucket" in back.columns
    assert back.where("_p_ts_day IS NULL").count() == 30
    assert back.where("_p_event_id_bucket IS NULL").count() == 30

    # on-disk: first commit day-partitioned, second bucket-partitioned
    data_dir = os.path.join(str(tmp_path), "db", "events", "data")
    layouts = set()
    for c in os.listdir(data_dir):
        if not c.startswith("_c="):
            continue
        subs = [d for d in os.listdir(os.path.join(data_dir, c))
                if d.startswith("_p_")]
        layouts.add(subs[0].split("=")[0] if subs else None)
    assert layouts == {"_p_ts_day", "_p_event_id_bucket"}


def test_partition_evolution_time_travel(spark, tmp_path, events_df):
    """Snapshots before the evolution read back in their original layout
    only — evolution is metadata-only and never rewrites history."""
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    v1 = sink._log.current_id()
    sink.evolve_partition_spec([("event_id", "bucket[4]")])
    sink.append(events_df)

    old = sink.read(as_of=v1)
    assert old.count() == 30
    assert "_p_ts_day" in old.columns
    assert "_p_event_id_bucket" not in old.columns
    assert sink._log.table_state(sink._log.head())["spec_id"] == 1


def test_partition_evolution_values_survive(spark, tmp_path, events_df):
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    sink.evolve_partition_spec([])          # evolve to UNPARTITIONED
    sink.append(events_df)
    got = sorted((r.event_id, r.v) for r in sink.read().collect())
    want = sorted(
        (r.event_id, r.v) for r in events_df.union(events_df).collect()
    )
    assert got == want


def test_evolve_missing_table_raises(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        sink.evolve_partition_spec([("event_id", "identity")])


def test_partition_evolution_incremental_read_crosses_boundary(
    spark, tmp_path, events_df
):
    """read_incremental over a range that crosses a spec evolution must
    load each era's layout separately (evolve is metadata-only, not a
    replacing commit)."""
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    v1 = sink._log.current_id()
    sink.evolve_partition_spec([("event_id", "bucket[4]")])
    sink.append(events_df)
    sink.append(events_df)
    inc = sink.read_incremental(0)
    assert inc.count() == 90
    assert sink.read_incremental(v1).count() == 60


def test_overwrite_partitions_after_evolution_uses_logical_membership(
    spark, tmp_path, events_df
):
    """Dynamic partition overwrite after evolution: membership is the
    CURRENT spec's transforms over the data columns, so pre-evolution
    rows in the replaced partition are replaced too (Iceberg evaluates
    the current spec against old files the same way)."""
    import pyspark.sql.functions as SF

    sink = _sink(spark, tmp_path)                      # day(ts)
    sink.append(events_df)
    sink.evolve_partition_spec([("event_id", "truncate[10]")])
    # restate the event_id in [0, 10) partition with a single row
    repl = events_df.where("event_id = 5").withColumn("v", SF.lit(999.0))
    sink.overwrite_partitions(repl)
    back = sink.read()
    # every pre-evolution row with event_id < 10 is gone; rest survive
    assert back.where("event_id < 10").count() == 1
    assert back.where("event_id >= 10").count() == 20
    assert back.where("event_id = 5").select("v").first().v == 999.0


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """SQL DELETE semantics: only cond=TRUE rows go; rows where the
    condition evaluates to NULL must SURVIVE (NOT(cond) would drop them
    — silent data loss)."""
    from pyspark.sql import Row

    cfg = IcebergSinkConfig(table_name="db.del_null", warehouse_path=str(tmp_path))
    sink = LakeSink(spark, cfg)
    sink.append(spark.createDataFrame(
        [Row(id=1, cat="closed"), Row(id=2, cat="open"), Row(id=3, cat=None)]
    ))
    sink.delete("cat = 'closed'")
    back = {r.id for r in sink.read().collect()}
    assert back == {2, 3}


def test_read_incremental_survives_expired_holes(spark, tmp_path, events_df):
    """expire() punches holes in the id sequence; an incremental range
    over main's retained lineage must not crash on them."""
    sink = _sink(spark, tmp_path)
    sink.append(events_df.where("event_id < 10"))
    sink.append(events_df.where("event_id >= 10 and event_id < 20"))
    sink.append(events_df.where("event_id >= 20"))
    sink.expire_snapshots(keep_last=2)          # v1 expired → id hole at 1
    inc = sink.read_incremental(2)
    assert inc.count() == 10


def test_orphan_cleanup_spares_young_inflight_dirs(spark, tmp_path, events_df):
    """A freshly-saved, not-yet-committed commit dir (the concurrent
    writer's in-flight state) must survive expire's orphan sweep."""
    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    sink.append(events_df)
    # simulate a concurrent writer's saved-but-uncommitted dir
    name, path = sink._log.new_commit_dir()
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    sink.expire_snapshots(keep_last=1)
    assert os.path.isdir(path), "in-flight commit dir was deleted"


def test_timestamp_as_of_ignores_branch_snapshots(spark, tmp_path, events_df):
    """TIMESTAMP AS OF must resolve on main's lineage only — staged WAP
    branch commits are unpublished."""
    import time as _t

    sink = _sink(spark, tmp_path)
    sink.append(events_df.where("event_id < 10"))
    _t.sleep(0.05)
    # stage data on an audit branch, never published
    keyed = sink._log
    name, path = keyed.new_commit_dir()
    os.makedirs(path)
    keyed.commit("append", [name], branch="audit")
    now_ms = int(_t.time() * 1000) + 1000
    sid = sink.snapshot_as_of_timestamp(now_ms)
    assert sid == 1  # main's head, not the staged branch snapshot


# -- r09: WAP-branch schema evolution lands at publish (r08 ADVICE medium) --


def _declared(sink, branch="main"):
    state = sink._log.table_state(sink._log.head(branch))
    return {f["name"] for f in state["schema_json"]["fields"]}


def test_publish_folds_branch_added_columns(spark, tmp_path, events_df):
    """A column staged on a WAP branch must become DECLARED when the branch
    publishes — so a later main write of that column with a DIFFERENT type
    is rejected at write (the additive-only contract), not stored as a
    CANNOT_MERGE_SCHEMAS time bomb."""
    from pyspark.sql import functions as F

    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    staged = events_df.withColumn("quality", (F.col("v") * 10).cast("long"))
    sink.append(staged, branch="audit")
    # unpublished: the staged column must NOT be declared yet (a dropped
    # branch must not leave a declared column with no main data)
    assert "quality" not in _declared(sink)
    sink.publish("audit")
    assert "quality" in _declared(sink)
    # post-publish type change on the published column: rejected at write
    bad = events_df.withColumn("quality", F.col("v") / 10.0)  # double
    with pytest.raises(ValueError, match="additive-only"):
        sink.append(bad)
    # same type still appends fine
    sink.append(events_df.withColumn("quality", F.lit(7).cast("long")))
    back = sink.read()
    assert back.where("quality IS NOT NULL").count() == 60


def test_branch_pending_column_type_conflict_rejected(spark, tmp_path,
                                                      events_df):
    """Within one branch: commit 1 stages column x as long, commit 2 writes
    x as double — the pending column binds like a declared one, so the
    conflict is rejected at WRITE, never stored."""
    from pyspark.sql import functions as F

    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    sink.append(events_df.withColumn("x", F.lit(1).cast("long")),
                branch="audit")
    with pytest.raises(ValueError, match="staged on branch"):
        sink.append(events_df.withColumn("x", F.lit(1.5)), branch="audit")


def test_dropped_branch_leaves_schema_undeclared(spark, tmp_path, events_df):
    """The audit-failed arm: dropping a branch with staged column adds must
    leave the declared schema untouched, and the column can later be
    (re)introduced on main with any type."""
    from pyspark.sql import functions as F

    sink = _sink(spark, tmp_path)
    sink.append(events_df)
    sink.append(events_df.withColumn("q", F.lit(1).cast("long")),
                branch="audit")
    sink.drop_branch("audit")
    assert "q" not in _declared(sink)
    # main may now declare q as double — the staged long never landed
    sink.append(events_df.withColumn("q", F.lit(0.5)))
    assert sink.read().where("q = 0.5").count() == 30


def test_wap_routing_guard_covers_all_write_paths(tmp_path):
    """r08 ADVICE (low): every iceberg write entry point must verify
    spark.wap.branch routing, not just append. The guard is a pure conf
    check, so it is testable without the iceberg runtime: the adapter
    runs on a mock session whose conf is a dict."""
    from unittest.mock import MagicMock

    from bytewax_iceberg_connector_spark.operators.iceberg_sink import (
        IcebergRuntimeSink,
    )

    conf = {}
    session = MagicMock()
    session.conf.get.side_effect = lambda k, default=None: conf.get(k, default)
    session.conf.set.side_effect = conf.__setitem__
    sink = IcebergRuntimeSink(session, IcebergSinkConfig(
        table_name="db.events", warehouse_path=str(tmp_path)))
    conf["spark.wap.branch"] = "audit"
    for op in ("append", "overwrite", "merge", "delete", "compact",
               "rollback"):
        with pytest.raises(ValueError, match="spark.wap.branch"):
            sink._assert_wap_routing(op)
    # matching branch append passes; mismatched branch raises
    sink._assert_wap_routing("append", branch="audit")
    with pytest.raises(ValueError, match="spark.wap.branch"):
        sink._assert_wap_routing("append", branch="other")
    # the public write paths run the guard before any write
    df = MagicMock()
    with pytest.raises(ValueError, match="spark.wap.branch"):
        sink.overwrite_partitions(df)
    df.writeTo.assert_not_called()
    del conf["spark.wap.branch"]
    sink._assert_wap_routing("overwrite")
    with pytest.raises(ValueError, match="spark.wap.branch"):
        sink._assert_wap_routing("append", branch="audit")
