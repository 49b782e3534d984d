"""IcebergRuntimeSink on a mock session: every public method once, pinning
the SQL text or writer call it hands the Iceberg runtime.

pyspark ships no iceberg-spark-runtime jar, so tests/test_iceberg_backend.py
skips without it; these tests run the adapter's code either way. The
adapter gets a ``MagicMock`` session whose conf is a plain dict (its
``__init__`` sets ``spark.sql.catalog.*`` confs, which must not reach the
real session). The real ``spark`` fixture is requested only so that
Column-building calls (``F.col``, windows) have a live JVM.
"""

from unittest.mock import MagicMock

import pytest
from pyspark.sql import Row

from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators import sink as sink_mod
from bytewax_iceberg_connector_spark.operators.iceberg_sink import (
    IcebergRuntimeSink,
)
from bytewax_iceberg_connector_spark.operators.sink import LakeSink

Q = "bic.db.t"


def _session(**conf):
    session = MagicMock(name="session")
    session.conf.get.side_effect = lambda k, default=None: conf.get(k, default)
    session.conf.set.side_effect = conf.__setitem__
    return session, conf


def _cfg(**kw):
    return IcebergSinkConfig(table_name="db.t", catalog_name="bic",
                             warehouse_path="/wh", **kw)


def _sqls(session):
    return [c.args[0] for c in session.sql.call_args_list]


@pytest.fixture()
def ice(spark):
    session, _ = _session()
    return IcebergRuntimeSink(session, _cfg(partition_spec=[("ts", "day")])), session


def test_lakesink_returns_the_adapter_when_the_runtime_is_present(monkeypatch):
    session, conf = _session()
    monkeypatch.setattr(sink_mod, "iceberg_runtime_available", lambda s: True)
    sink = LakeSink(session, _cfg())
    assert isinstance(sink, IcebergRuntimeSink)
    assert sink.spark is session
    assert conf["spark.sql.catalog.bic"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.bic.warehouse"] == "/wh"
    with pytest.raises(TypeError, match="IcebergSinkConfig"):
        LakeSink(session, {"table_name": "db.t"})
    monkeypatch.setattr(sink_mod, "iceberg_runtime_available", lambda s: False)
    assert type(LakeSink(session, _cfg())) is LakeSink


def test_table_exists_and_ensure_table(spark):
    session, _ = _session()
    sink = IcebergRuntimeSink(session, _cfg(
        partition_spec=[("ts", "day"), ("id", "bucket[8]")],
        sort_order=["v desc"],
    ))
    session.catalog.tableExists.return_value = True
    assert sink.table_exists()
    session.catalog.tableExists.assert_called_with(Q)
    like = MagicMock(name="like")
    sink.ensure_table(like)  # present: no-op
    like.limit.assert_not_called()

    session.catalog.tableExists.return_value = False
    writer = like.limit.return_value.writeTo.return_value
    writer.tableProperty.return_value = writer
    writer.partitionedBy.return_value = writer
    sink.ensure_table(like)
    like.limit.assert_called_once_with(0)
    like.limit.return_value.writeTo.assert_called_once_with(Q)
    writer.tableProperty.assert_any_call("write.format.default", "parquet")
    assert len(writer.partitionedBy.call_args.args) == 2
    writer.create.assert_called_once_with()
    assert _sqls(session) == [f"ALTER TABLE {Q} WRITE ORDERED BY (v desc)"]

    with pytest.raises(ValueError, match="no writeTo partitionedBy form"):
        IcebergRuntimeSink(session, _cfg(
            partition_spec=[("s", "truncate[4]")])).ensure_table(like)
    with pytest.raises(ValueError, match="no schema is available"):
        sink.ensure_table()


@pytest.mark.parametrize("method, call", [
    ("append", "append"),
    ("overwrite", "createOrReplace"),
    ("overwrite_partitions", "overwritePartitions"),
])
def test_frame_writes_go_through_write_to(ice, method, call):
    sink, session = ice
    df = MagicMock(name="df")
    getattr(sink, method)(df)
    df.writeTo.assert_called_once_with(Q)
    getattr(df.writeTo.return_value, call).assert_called_once_with()


def test_merge_into_with_tiebreak(ice):
    sink, session = ice
    updates = MagicMock(name="updates")
    sink.merge(updates, keys=["id", "a b"], tiebreak="v")
    # the within-batch winner is picked before the MERGE source is bound
    assert updates.withColumn.call_args.args[0] == "_bic_rn"
    deduped = updates.withColumn.return_value.where.return_value.drop
    deduped.return_value.createOrReplaceTempView.assert_called_once_with(
        "_bic_merge_src")
    assert _sqls(session) == [
        f"MERGE INTO {Q} t USING _bic_merge_src s "
        "ON t.`id` = s.`id` AND t.`a b` = s.`a b` "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ]


def test_delete_compact_rollback_expire(ice):
    sink, session = ice
    sink.delete("id = 1")
    sink.compact()
    sink.compact(zorder_by=["a", "b"])
    sink.rollback(42)
    assert sink.expire_snapshots(keep_last=3) == 0
    assert _sqls(session) == [
        f"DELETE FROM {Q} WHERE id = 1",
        "CALL bic.system.rewrite_data_files('db.t')",
        "CALL bic.system.rewrite_data_files(table => 'db.t', "
        "strategy => 'sort', sort_order => 'zorder(a, b)')",
        "CALL bic.system.rollback_to_snapshot('db.t', 42)",
        "CALL bic.system.expire_snapshots(table => 'db.t', retain_last => 3)",
    ]


def test_evolve_partition_spec_drops_the_last_applied_spec(ice):
    sink, session = ice
    sink.evolve_partition_spec([("id", "bucket[8]")])
    sink.evolve_partition_spec([("ts", "month")])
    assert _sqls(session) == [
        f"ALTER TABLE {Q} DROP PARTITION FIELD days(ts)",
        f"ALTER TABLE {Q} ADD PARTITION FIELD bucket(8, id)",
        f"ALTER TABLE {Q} DROP PARTITION FIELD bucket(8, id)",
        f"ALTER TABLE {Q} ADD PARTITION FIELD months(ts)",
    ]


def test_refs_tags_branches_and_publish(ice):
    sink, session = ice
    session.sql.return_value.collect.return_value = [(7,)]
    assert sink.current_snapshot_id("audit") == 7
    assert sink.tag("v1", snapshot_id=5) == 5
    sink.drop_tag("v1")
    assert sink.publish("audit") == 7
    assert sink.drop_branch("audit") == []
    session.sql.return_value.collect.return_value = [
        Row(name="v1", snapshot_id=5)]
    assert sink.tags() == {"v1": 5}
    session.sql.return_value.collect.return_value = []
    assert sink.current_snapshot_id() == 0
    assert _sqls(session) == [
        f"SELECT snapshot_id FROM {Q}.refs WHERE name = 'audit'",
        f"ALTER TABLE {Q} CREATE TAG `v1` AS OF VERSION 5",
        f"ALTER TABLE {Q} DROP TAG `v1`",
        "CALL bic.system.fast_forward('db.t', 'main', 'audit')",
        f"SELECT snapshot_id FROM {Q}.refs WHERE name = 'main'",
        f"ALTER TABLE {Q} DROP BRANCH `audit`",
        f"SELECT name, snapshot_id FROM {Q}.refs WHERE type = 'TAG'",
        f"SELECT snapshot_id FROM {Q}.refs WHERE name = 'main'",
    ]
    with pytest.raises(ValueError, match="invalid branch/tag name"):
        sink.tag("a' OR '1'='1")


def test_write_stream_uses_the_native_sink(ice):
    sink, session = ice
    df = MagicMock(name="stream")
    sink.write_stream(df, "/cp", trigger_override={"availableNow": True})
    df.writeStream.format.assert_called_once_with("iceberg")
    chain = df.writeStream.format.return_value.outputMode
    chain.assert_called_once_with("append")
    chain = chain.return_value.trigger
    chain.assert_called_once_with(availableNow=True)
    chain = chain.return_value.option
    chain.assert_called_once_with("checkpointLocation", "/cp")
    chain.return_value.toTable.assert_called_once_with(Q)


def test_write_stream_merge_merges_each_batch(ice):
    sink, session = ice
    session.catalog.tableExists.return_value = True
    df = MagicMock(name="stream")
    sink.write_stream_merge(df, "/cp", keys=["id"], order_by="ts",
                            trigger_override={"availableNow": True})
    per_batch = df.writeStream.foreachBatch.call_args.args[0]
    batch = MagicMock(name="batch")
    per_batch(batch, 3)
    assert batch.withColumn.call_args.args[0] == "_bic_rn"
    assert _sqls(session) == [
        f"MERGE INTO {Q} t USING _bic_merge_src s ON t.`id` = s.`id` "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ]


def test_reads_time_travel_and_changelog(ice):
    sink, session = ice
    assert sink.read() is session.table.return_value
    session.table.assert_called_with(Q)
    sink.read(with_spec_id=True)
    session.table.return_value.select.assert_called_once_with("*", "_spec_id")
    sink.read(as_of=5)
    sink.read(tag="v1")
    sink.read(branch="audit", with_spec_id=True, prune={"v": (1, 2)})
    sink.snapshots()
    session.sql.return_value.where.return_value.agg.return_value \
        .collect.return_value = [(9,)]
    assert sink.snapshot_as_of_timestamp(1_700_000_000_000) == 9
    sink.read(as_of_timestamp_ms=1_700_000_000_000)
    assert sink.changes(3, 5) is session.table.return_value
    session.table.assert_called_with("_bic_changes")
    assert _sqls(session) == [
        f"SELECT * FROM {Q} VERSION AS OF 5",
        f"SELECT * FROM {Q} VERSION AS OF 'v1'",
        f"SELECT *, _spec_id FROM {Q} VERSION AS OF 'audit'",
        f"SELECT snapshot_id, parent_id, committed_at, operation "
        f"FROM {Q}.snapshots",
        f"SELECT snapshot_id, parent_id, committed_at, operation "
        f"FROM {Q}.snapshots",
        f"SELECT snapshot_id, parent_id, committed_at, operation "
        f"FROM {Q}.snapshots",
        f"SELECT * FROM {Q} VERSION AS OF 9",
        "CALL bic.system.create_changelog_view(table => 'db.t', "
        "options => map('start-snapshot-id', '3', 'end-snapshot-id', '5'), "
        "changelog_view => '_bic_changes')",
    ]
    with pytest.raises(ValueError, match="at most one"):
        sink.read(as_of=1, tag="v1")


def test_read_incremental_uses_snapshot_range_options(ice):
    sink, session = ice
    sink.read_incremental(3, 5)
    session.read.format.assert_called_once_with("iceberg")
    start = session.read.format.return_value.option
    start.assert_called_once_with("start-snapshot-id", "3")
    end = start.return_value.option
    end.assert_called_once_with("end-snapshot-id", "5")
    end.return_value.load.assert_called_once_with(Q)


def test_continuous_aggregate_recomputes_in_full_on_the_adapter(ice):
    """The adapter has no snapshot log to hold a refresh watermark: the
    view reports none and every refresh is a full recompute."""
    from bytewax_iceberg_connector_spark.operators.matview import (
        ContinuousAggregate,
    )

    sink, session = ice
    view = ContinuousAggregate(sink, sink, {"k": "k"}, {"total": "v"})
    assert view.last_refreshed() is None
    with pytest.warns(UserWarning, match="recomputes in full"):
        assert view.refresh() == {"refreshed_to": None, "mode": "full"}
    merged = session.table.return_value.groupBy.return_value.agg.return_value
    merged.writeTo.assert_called_once_with(Q)
    merged.writeTo.return_value.createOrReplace.assert_called_once_with()
