"""Streaming-mode execution tests: the same builders that back the batch
oracle queries, run as real Structured Streaming jobs (readStream → trigger
→ memory/file sink → checkpoint)."""

import pytest

from bytewax_iceberg_connector_spark.sources.tables import load_table
from bytewax_iceberg_connector_spark.streaming.windows import (
    read_events_stream,
    hopping_agg,
    session_agg_streaming,
    session_windows_batch,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _run_stream(df, name, tmpdir):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmpdir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, sf_dir, batch_events, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    _run_stream(tumbling_agg(stream), "tumbling_t", tmp_path / "cp1")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("tumbling_t").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_agg(batch_events).collect()
    }
    assert got == want


def test_hopping_stream_matches_batch(spark, sf_dir, batch_events, tmp_path):
    """The overlapping-window generation + watermarked state must produce
    the same (window, key) cells streaming as batch."""
    stream = read_events_stream(spark, sf_dir)
    _run_stream(hopping_agg(stream), "hopping_t", tmp_path / "cph")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("hopping_t").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in hopping_agg(batch_events).collect()
    }
    assert got == want


def test_session_stream_matches_island_form(spark, sf_dir, batch_events, tmp_path):
    """F.session_window merging must agree with the lag+cumsum island
    assignment on session count and per-user event totals."""
    stream = read_events_stream(spark, sf_dir)
    _run_stream(
        session_agg_streaming(stream, gap_minutes=30), "sessions_t", tmp_path / "cp2"
    )
    got = spark.table("sessions_t")
    islands = session_windows_batch(batch_events, gap_minutes=30)
    from pyspark.sql import functions as F

    got_per_user = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in got.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    want_per_user = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in islands.groupBy("user_id")
        .agg(
            F.countDistinct("session_idx").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got_per_user == want_per_user


def test_stream_static_join_matches_batch(spark, sf_dir, batch_events, tmp_path):
    """Stream-static join: the streaming fact side joins a STATIC dimension
    (customer segment) without any state or watermark — the dim is re-read
    per micro-batch, which is exactly the semantics a slowly-changing
    lookup table wants. Aggregated counts must match the batch join."""
    from pyspark.sql import functions as F

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )
    _run_stream(agg, "stream_static_t", tmp_path / "cpss")
    got = {
        (r.c_mktsegment, r.n_events) for r in spark.table("stream_static_t").collect()
    }
    want = {
        (r.c_mktsegment, r.n_events)
        for r in batch_events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want and got


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Built-in watermark-bounded streaming dedup (the state-TTL'd
    counterpart of streaming/stateful.py's first-seen dedup): a self-union
    doubles every event; dropDuplicatesWithinWatermark must collapse the
    pairs back to exactly one row per event_id while the watermark bounds
    the dedup state instead of growing it forever."""
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(stream).withWatermark("ts", "2 hours")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddww_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cpdd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batch = load_table(spark, sf_dir, "events").count()
    assert spark.table("ddww_t").count() == n_batch


def test_stream_sink_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """LakeSink streaming path: partitioned file sink + checkpoint manifest,
    drained with availableNow (bounded test stand-in for the config's
    processing-time trigger)."""
    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    stream = read_events_stream(spark, sf_dir)
    cfg = IcebergSinkConfig(
        table_name="db.stream_events",
        warehouse_path=str(tmp_path / "wh"),
        batch_interval_seconds=1,
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)
    q = sink.write_stream(stream, str(tmp_path / "cp3"), trigger_override={"availableNow": True})
    q.awaitTermination(120)
    back = sink.read()
    assert back.count() == load_table(spark, sf_dir, "events").count()
    # the partition transform must appear as directory columns on disk
    assert "_p_ts_day" in back.columns


def test_interval_join_stream_matches_batch(spark, sf_dir, batch_events, tmp_path):
    """Stream-stream interval join run as a REAL streaming query (both
    sides watermarked, append mode) must produce exactly the batch pairs."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.streaming.windows import interval_join

    def split(df):
        return (
            df.where(F.col("event_type") == "click").select("user_id", "ts"),
            df.where(F.col("event_type") == "purchase").select("user_id", "ts"),
        )

    sc, sp = split(read_events_stream(spark, sf_dir))
    joined = interval_join(sc, sp, key="user_id", max_delay_minutes=30)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.l_ts, r.r_ts) for r in spark.table("ij_t").collect()
    }
    bc, bp = split(batch_events)
    want = {
        (r.user_id, r.l_ts, r.r_ts)
        for r in interval_join(bc, bp, key="user_id", max_delay_minutes=30).collect()
    }
    assert got == want and want


def test_observe_errors_streaming_listener(spark, sf_dir, tmp_path):
    """A26 streaming path: observe() metrics surface per micro-batch via
    StreamingQueryListener — error accounting with no extra action, in
    stream mode."""
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from bytewax_iceberg_connector_spark.operators.inspect import observe_errors

    seen = {}
    done = threading.Event()

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):  # noqa: N802
            pass

        def onQueryProgress(self, e):  # noqa: N802
            m = e.progress.observedMetrics.get("bic_errors")
            if m is not None:
                seen["n_rows"] = seen.get("n_rows", 0) + m.n_rows
                seen["n_errors"] = seen.get("n_errors", 0) + m.n_errors
                done.set()

        def onQueryTerminated(self, e):  # noqa: N802
            done.set()

        def onQueryIdle(self, e):  # noqa: N802
            pass

    listener = _L()
    spark.streams.addListener(listener)
    try:
        stream = read_events_stream(spark, sf_dir)
        flagged = stream.withColumn(
            "_error",
            F.when(F.col("value") < 0.1, F.lit("low value")),
        )
        observed, obs = observe_errors(flagged)
        assert obs is None  # streaming: metrics come via the listener
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "cp_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    n_total = load_table(spark, sf_dir, "events").count()
    n_err = (
        load_table(spark, sf_dir, "events").where(F.col("value") < 0.1).count()
    )
    assert seen.get("n_rows") == n_total and seen.get("n_errors") == n_err


def test_interval_join_left_outer_stream_matches_batch(spark, sf_dir, batch_events, tmp_path):
    """Left-outer stream-stream interval join: unmatched clicks surface
    with null purchase columns once the watermark closes their interval;
    results equal the batch replay exactly."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.streaming.windows import interval_join

    def split(df):
        return (
            df.where(F.col("event_type") == "click").select("user_id", "ts"),
            df.where(F.col("event_type") == "purchase").select("user_id", "ts"),
        )

    sc, sp = split(read_events_stream(spark, sf_dir))
    joined = interval_join(sc, sp, key="user_id", max_delay_minutes=30,
                           how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_outer_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_ij_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.l_ts, r.r_ts) for r in spark.table("ij_outer_t").collect()
    }
    bc, bp = split(batch_events)
    want = {
        (r.user_id, r.l_ts, r.r_ts)
        for r in interval_join(bc, bp, key="user_id", max_delay_minutes=30,
                               how="left_outer").collect()
    }
    # Structured Streaming withholds outer results whose interval the FINAL
    # watermark never passes (correctness, not loss: a matching right row
    # could still arrive for them). Compare exactly below that horizon;
    # above it the stream may only be missing null-matched rows.
    import datetime as dt

    max_ts = max(t for _, t, _ in want)
    horizon = max_ts - dt.timedelta(hours=2, minutes=30)
    got_closed = {x for x in got if x[1] < horizon}
    want_closed = {x for x in want if x[1] < horizon}
    assert got_closed == want_closed
    assert any(r_ts is None for _, _, r_ts in want_closed)  # outer rows exist
    assert not (got - want)  # stream never invents rows
    missing = want - got
    assert all(r_ts is None and l_ts >= horizon for _, l_ts, r_ts in missing)


def test_stream_merge_builds_latest_state(spark, sf_dir, tmp_path):
    """write_stream_merge (foreachBatch + MERGE, the CDC-upsert idiom):
    draining the events stream keyed on user_id must leave exactly the
    latest-per-user state table, across however many micro-batches the
    source splits into (maxFilesPerTrigger irrelevant: MERGE composes)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    stream = read_events_stream(spark, sf_dir)
    cfg = IcebergSinkConfig(
        table_name="db.user_state",
        warehouse_path=str(tmp_path / "wh"),
        batch_interval_seconds=1,
    )
    sink = LakeSink(spark, cfg)
    q = sink.write_stream_merge(
        stream, str(tmp_path / "cp_merge"), keys=["user_id"],
        order_by=["ts", "event_id"],
        trigger_override={"availableNow": True},
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.event_id) for r in sink.read().collect()
    }
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1").collect()
    }
    assert got == want
    # replayed batch ids are recorded for crash dedup
    assert sink._log.committed_batch_ids()


def test_stream_merge_on_column_names_that_need_quoting(spark, tmp_path):
    """write_stream_merge keyed on a name that needs quoting, with
    ``order_by`` on a second one: the within-batch winner comes from a
    window over quoted names (merge.latest_per_key), so the drain leaves
    the latest row per key instead of failing with
    INVALID_ATTRIBUTE_NAME_SYNTAX. Two files, one micro-batch each: the
    second batch's winner for key 2 replaces the first batch's row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
    from bytewax_iceberg_connector_spark.operators.sink import LakeSink

    key, order = "a.b c`d日", "o.r d`er"
    src = tmp_path / "src"
    src.mkdir()
    for i, (keys, orders, vals) in enumerate([
        ([1, 1, 2], [1.0, 3.0, 5.0], [10, 30, 50]),
        ([2, 2], [2.0, 4.0], [20, 40]),
    ]):
        path = str(src / f"part-{i}.parquet")
        pq.write_table(pa.table({key: keys, order: orders, "v": vals}), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = StructType([StructField(key, LongType()),
                         StructField(order, DoubleType()),
                         StructField("v", LongType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="db.quoted_state", warehouse_path=str(tmp_path / "wh"),
        num_partitions=1,
    ))
    q = sink.write_stream_merge(
        stream, str(tmp_path / "cp"), keys=[key], order_by=order,
        trigger_override={"availableNow": True},
    )
    q.awaitTermination(120)
    got = {(r[key], r[order], r["v"]) for r in sink.read().collect()}
    assert got == {(1, 3.0, 30), (2, 4.0, 40)}
    assert sorted(sink._log.committed_batch_ids()) == [0, 1]


def test_streaming_enrich_dim_unknown_segment(spark, tmp_path):
    """A stream row whose user has NO dimension row survives the LEFT
    enrichment as segment 'unknown' (dim misses must not drop facts);
    matched users fold into their segment's hourly window. Oracle diff
    on the same fixture."""
    import datetime as _dt
    import os as _os

    import duckdb
    import pandas as pd
    from pyspark.sql import Row

    from bytewax_iceberg_connector_spark.plans.streaming_queries import (
        _SQL_ENRICH_DIM,
        streaming_enrich_dim,
    )

    t0 = _dt.datetime(2024, 1, 1, 10, 15)
    rows = [
        Row(event_id=1, ts=t0, user_id=1, event_type="a", value=1.0),
        Row(event_id=2, ts=t0, user_id=1, event_type="a", value=2.0),
        Row(event_id=3, ts=t0, user_id=999, event_type="a", value=4.0),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        _os.path.join(d, "events.parquet")
    )
    cp = pd.DataFrame({"c_custkey": [1], "c_mktsegment": ["BUILDING"]})
    cp["c_custkey"] = cp["c_custkey"].astype("int64")
    cp.to_parquet(_os.path.join(d, "customer.parquet"))
    sp = streaming_enrich_dim(spark, d).toPandas()
    assert list(sp.segment) == ["BUILDING", "unknown"]
    assert list(sp.n_events) == [2, 1]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('{}')".format(
            _os.path.join(d, "events.parquet", "*.parquet")
        )
    )
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM read_parquet('{}')".format(
            _os.path.join(d, "customer.parquet")
        )
    )
    want = con.execute(_SQL_ENRICH_DIM).df()
    assert list(want.segment) == list(sp.segment)
    assert [int(x) for x in want.n_events] == list(sp.n_events)
    assert [int(x) for x in want.total_value] == [int(x) for x in sp.total_value]


def test_streaming_dedup_watermark_greedy_recurrence(spark, tmp_path):
    """Hand-replayed greedy keep-chain: the case that forces the
    recurrence is id=149 — its far echo (+209 min from base) would be
    KEPT measured from the base row, but the first echo (+150 min) was
    itself kept and resets the chain, so the far echo lands 59 min after
    the last KEPT row and must be suppressed. NULL key/ts rows drop on
    both engines; full-frame oracle diff replays the recursive CTE."""
    import datetime as _dt
    import os as _os

    from _diffutil import assert_df_match as _diff
    from _diffutil import duck_oracle as _oracle
    from bytewax_iceberg_connector_spark.plans.streaming_queries import (
        _SQL_DEDUP_WATERMARK,
        streaming_dedup_watermark,
    )

    import pandas as pd

    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # id=0 'a': echo1 +1min suppressed; echo2 +180min >= 2h kept
        (0, t0, "a"),
        # id=119 'b': echo1 +120min == 2h exactly -> kept (>= contract);
        # echo2 +299min, 179min after the kept echo1 -> kept
        (119, t0, "b"),
        # id=149 'c': echo1 +150min kept; echo2 +209min is only 59min
        # after the KEPT echo1 -> suppressed (recurrence, not base-gap)
        (149, t0, "c"),
        (None, t0, "x"),  # NULL key drops
        (7, None, "x"),   # NULL ts drops
    ]
    ev = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
    ev["event_id"] = ev["event_id"].astype("Int64")
    ev["ts"] = pd.to_datetime(ev["ts"]).astype("datetime64[us]")
    ev.to_parquet(_os.path.join(str(tmp_path), "events.parquet"))

    sp = streaming_dedup_watermark(spark, str(tmp_path)).toPandas()
    got = {
        (r.event_type, r.n_kept, r.n_suppressed, r.kept_id_checksum)
        for r in sp.itertuples()
    }
    assert got == {
        ("a", 2, 1, 0),        # idmod 0
        ("b", 3, 0, 3 * 119),
        ("c", 2, 1, 2 * 149),
    }
    _diff(sp, _oracle(tmp_path, _SQL_DEDUP_WATERMARK))
