"""IcebergRuntimeSink against the live runtime — capability-gated on
iceberg-spark-runtime.

pyspark ships no iceberg-spark-runtime jar, so without one these SKIP; they
are the proof harness for operators/iceberg_sink.py: on any machine where
the runtime is on the classpath (e.g. ``spark.jars.packages=
org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>`` with a warm ivy
cache), ``LakeSink(spark, cfg)`` returns an ``IcebergRuntimeSink`` and this
file exercises the runtime calls the parquet-log sink mirrors: catalog
create with hidden partitioning, snapshot append, MERGE INTO, VERSION AS OF
time travel, rollback_to_snapshot, WRITE ORDERED BY, and the streaming
toTable sink. tests/test_iceberg_sink.py pins the same calls' SQL text on
a mock session, so the adapter's code runs even where this file skips.

Keeping the two suites shape-identical (same scenarios as
tests/test_lake_snapshots.py) is the point: one contract, two substrates.
"""

import datetime as dt

import pytest
from pyspark.sql import Row

from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators.iceberg_sink import (
    IcebergRuntimeSink,
)
from bytewax_iceberg_connector_spark.operators.sink import (
    LakeSink,
    iceberg_runtime_available,
)


@pytest.fixture()
def iceberg_sink(spark, tmp_path):
    if not iceberg_runtime_available(spark):
        pytest.skip("iceberg-spark-runtime not on classpath (no network/jar "
                    "in this container) — gated proof suite")
    cfg = IcebergSinkConfig(
        table_name="db.ice_events",
        catalog_name="bic_test",
        warehouse_path=str(tmp_path / "wh"),
        partition_spec=[("ts", "day")],
        sort_order=["v desc"],
    )
    sink = LakeSink(spark, cfg)
    assert isinstance(sink, IcebergRuntimeSink)
    return sink


@pytest.fixture()
def batch(spark):
    return spark.createDataFrame(
        [Row(event_id=i, ts=dt.datetime(2024, 1, 1 + i % 3, 10), v=float(i))
         for i in range(30)]
    )


def test_iceberg_roundtrip_and_hidden_partitioning(iceberg_sink, batch, spark):
    iceberg_sink.append(batch)
    back = iceberg_sink.read()
    assert back.count() == 30
    # hidden partitioning: day(ts) partitions visible in metadata, and a
    # one-day predicate prunes files
    parts = spark.sql(
        f"SELECT partition FROM {iceberg_sink._qualified}.files"
    ).collect()
    assert len({str(p.partition) for p in parts}) == 3
    one_day = back.where("ts >= '2024-01-02' AND ts < '2024-01-03'")
    assert one_day.count() == batch.where(
        "ts >= '2024-01-02' AND ts < '2024-01-03'"
    ).count()


def test_iceberg_time_travel_and_rollback(iceberg_sink, batch):
    iceberg_sink.append(batch.where("event_id < 10"))
    first = iceberg_sink.snapshots().collect()[-1].snapshot_id
    iceberg_sink.append(batch.where("event_id >= 10"))
    assert iceberg_sink.read().count() == 30
    assert iceberg_sink.read(as_of=first).count() == 10
    iceberg_sink.rollback(first)
    assert iceberg_sink.read().count() == 10


def test_iceberg_merge_into(iceberg_sink, batch, spark):
    iceberg_sink.append(batch.where("event_id < 10"))
    updates = spark.createDataFrame(
        [Row(event_id=3, ts=dt.datetime(2024, 1, 1, 10), v=999.0),
         Row(event_id=77, ts=dt.datetime(2024, 1, 2, 10), v=-1.0)]
    )
    iceberg_sink.merge(updates, keys=["event_id"])
    got = {r.event_id: r.v for r in iceberg_sink.read().collect()}
    assert len(got) == 11 and got[3] == 999.0 and got[77] == -1.0


def test_iceberg_schema_evolution_additive(iceberg_sink, batch, spark):
    from pyspark.sql import functions as F

    iceberg_sink.append(batch)
    spark.sql(f"ALTER TABLE {iceberg_sink._qualified} ADD COLUMN quality DOUBLE")
    iceberg_sink.append(batch.withColumn("quality", F.col("v") / 10.0))
    back = iceberg_sink.read()
    assert back.count() == 60
    assert back.where(F.col("quality").isNull()).count() == 30


def test_iceberg_sort_order_declared(iceberg_sink, batch, spark):
    iceberg_sink.append(batch)
    ddl = spark.sql(f"SHOW CREATE TABLE {iceberg_sink._qualified}").collect()[0][0]
    assert "ORDERED BY" in ddl or "sort-order" in ddl.lower()


def test_iceberg_row_level_delete(iceberg_sink, batch):
    iceberg_sink.append(batch.where("event_id < 10"))
    iceberg_sink.delete("event_id % 2 = 0")
    got = sorted(r.event_id for r in iceberg_sink.read().collect())
    assert got == [1, 3, 5, 7, 9]


def test_iceberg_compact_and_expire(iceberg_sink, batch):
    for i in range(3):
        iceberg_sink.append(batch.where(f"event_id % 3 = {i}"))
    iceberg_sink.compact()
    iceberg_sink.expire_snapshots(keep_last=1)
    assert iceberg_sink.read().count() == 30


def test_iceberg_zorder_rewrite(iceberg_sink, batch):
    """rewrite_data_files with the sort strategy and a zorder() sort_order
    — the iceberg-native form of LakeSink.compact(zorder_by=...)."""
    for i in range(3):
        iceberg_sink.append(batch.where(f"event_id % 3 = {i}"))
    iceberg_sink.compact(zorder_by=["event_id", "v"])
    assert iceberg_sink.read().count() == 30


def test_iceberg_overwrite_partitions(iceberg_sink, batch, spark):
    import datetime as dt

    from pyspark.sql import Row

    iceberg_sink.append(batch)
    restated = spark.createDataFrame(
        [Row(event_id=100 + i, ts=dt.datetime(2024, 1, 2, 10), v=-1.0)
         for i in range(4)]
    )
    iceberg_sink.overwrite_partitions(restated)
    back = iceberg_sink.read()
    assert back.where("ts >= '2024-01-02' AND ts < '2024-01-03'").count() == 4
    assert back.where("ts < '2024-01-02'").count() == 10


def test_iceberg_tag_and_read_by_ref(iceberg_sink, batch):
    """Named refs: CREATE TAG on the head snapshot, VERSION AS OF 'tag'
    reads the pinned state across later writes, DROP TAG removes the ref."""
    iceberg_sink.append(batch.where("event_id < 10"))
    iceberg_sink.tag("release-v1")
    iceberg_sink.append(batch.where("event_id >= 10"))
    assert iceberg_sink.read().count() == 30
    assert iceberg_sink.read(tag="release-v1").count() == 10
    assert "release-v1" in iceberg_sink.tags()
    iceberg_sink.drop_tag("release-v1")
    assert "release-v1" not in iceberg_sink.tags()


def test_iceberg_wap_branch_routing_and_publish(iceberg_sink, batch, spark):
    """WAP on the real backend: branch append requires spark.wap.branch
    (two-directional _assert_wap_routing), fast_forward publishes, and a
    post-publish type change of a branch-added column is rejected —
    the parquet backend proves the same contract by committing the branch
    schema with the publish snapshot
    (test_sink.py::test_publish_folds_branch_added_columns)."""
    from pyspark.sql import functions as F

    iceberg_sink.append(batch)
    iceberg_sink.spark.sql(
        f"ALTER TABLE {iceberg_sink._qualified} CREATE BRANCH audit"
    )
    staged = batch.withColumn("quality", (F.col("v") * 10).cast("long"))
    # without the conf: routing guard fires before any write
    with pytest.raises(ValueError, match="spark.wap.branch"):
        iceberg_sink.append(staged, branch="audit")
    spark.conf.set("spark.wap.branch", "audit")
    try:
        iceberg_sink.append(staged, branch="audit")
        # main-targeting writes must refuse while the conf lingers
        with pytest.raises(ValueError, match="spark.wap.branch"):
            iceberg_sink.append(batch)
        with pytest.raises(ValueError, match="spark.wap.branch"):
            iceberg_sink.overwrite(batch)
    finally:
        spark.conf.unset("spark.wap.branch")
    iceberg_sink.publish("audit")
    back = iceberg_sink.read()
    assert "quality" in back.columns
    # post-publish type change on the published column: the runtime's own
    # schema enforcement rejects (the fold contract, enforced natively)
    bad = batch.withColumn("quality", F.col("v") / 10.0)
    with pytest.raises(Exception):
        iceberg_sink.append(bad)
