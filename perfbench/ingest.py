"""The streaming ingest path of ``lake_mixed``: the reference's own traffic.
A producer lands small event-schema parquet files (a share of them
invalid); an ``ingest`` op drains the files landed since the last one
through ``validate_schema`` -> ``enrich_with_metadata`` ->
``LakeSink.write_stream`` with an ``availableNow`` trigger and one file
per trigger, into a ``day(ts)`` partitioned events table, so every
micro-batch is one snapshot commit. The checkpoint carries over between
ops, as a long-lived stream's would.

The sink runs on the reference's default configuration: a landed file
holds one default flush (``batch_size`` rows, 1000), and the engine's own
admission cap (``IcebergSinkConfig.source_admission_options``) turns that
into one file per trigger.

An op's latency is the client's call, query start to drained; each
micro-batch's trigger duration comes from Spark's streaming progress
reports and feeds the ``commit_*`` figures and the streaming layers.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, harness

#: files set-up lands for the untimed warm-up op
WARM_FILES = 3
#: files per trigger of the exactly-once replay check; wider triggers keep
#: the replay short, and every epoch they issue was committed before
REPLAY_FILES_PER_TRIGGER = 7
SOURCE_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING")
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props",
           "props_k", "event_date")


def sink_config(warehouse: str):
    """The reference's default sink configuration on a ``day(ts)``
    partitioned table, with the landed files' size as the admission hint
    so ``source_admission_options`` admits one file per trigger."""
    from bytewax_iceberg_connector_spark import IcebergSinkConfig

    batch = IcebergSinkConfig.model_fields["batch_size"].default
    return IcebergSinkConfig(
        table_name="lake.events",
        warehouse_path=warehouse,
        partition_spec=[("ts", "day")],
        extra_options={"rows_per_file_hint": batch},
    )


class Stream:
    """The events table, its landing directory and checkpoint, and what
    the producer has landed so far."""

    def __init__(self, base: str, sink) -> None:
        self.base = base
        self.landing = os.path.join(base, "landing")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.sink = sink
        self.rows_per_file = sink.config.batch_size
        self.next_file = 0
        self.valid: list[pa.Table] = []
        #: landed bytes, and per drained micro-batch its Spark progress
        #: durations (ms) and input rows
        self.landed_bytes = 0
        self.batches: list[tuple[dict, int]] = []
        os.makedirs(self.landing)


def _progress_value(p, key: str):
    return p[key] if isinstance(p, dict) else getattr(p, key)


def land(ctx, st: Stream, n: int) -> None:
    """Producer side: write ``n`` new landing files."""
    for _ in range(n):
        table, ok = gen.event_file(ctx.seed, st.next_file, st.rows_per_file)
        tmp = os.path.join(st.base, "incoming.parquet")
        st.landed_bytes += gen.write_parquet(table, tmp)
        # rename in, so the stream never lists a half-written file
        os.replace(tmp, os.path.join(st.landing, f"part-{st.next_file:06d}.parquet"))
        st.valid.append(table.filter(pa.array(ok)))
        st.next_file += 1


def start_stream(ctx, st: Stream, checkpoint: str,
                 files_per_trigger: int | None = None):
    """The ingest pipeline; names are looked up at call time so a traced
    run sees the patched operators. The admission cap is the config's
    unless ``files_per_trigger`` overrides it."""
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark import operators as ops

    admission = st.sink.config.source_admission_options("parquet")
    if files_per_trigger is not None:
        admission = {"maxFilesPerTrigger": str(files_per_trigger)}
    src = (
        ctx.spark.readStream.schema(SOURCE_DDL)
        .options(**admission)
        .parquet(st.landing)
    )
    checked = ops.validate_schema(src, {
        "user_id_present": F.col("user_id").isNotNull(),
        "props_json": F.get_json_object("props", "$.k").isNotNull(),
    })
    enriched = ops.enrich_with_metadata(checked.oks, {
        "props_k": F.get_json_object("props", "$.k").cast("bigint"),
        "event_date": F.to_date("ts"),
    })
    return st.sink.write_stream(enriched.oks, checkpoint,
                                trigger_override={"availableNow": True})


def drain(ctx, st: Stream, checkpoint: str | None = None,
          files_per_trigger: int | None = None) -> list:
    """Drain everything landed so far; returns the progress reports of the
    micro-batches that read rows."""
    q = start_stream(ctx, st, checkpoint or st.checkpoint, files_per_trigger)
    q.awaitTermination()
    err = q.exception()
    if err is not None:
        raise RuntimeError(f"streaming round failed: {err}")
    return [p for p in q.recentProgress
            if _progress_value(p, "numInputRows") > 0]


def ingest(ctx, st: Stream) -> None:
    """Drain the landed files and keep each micro-batch's progress."""
    for p in drain(ctx, st):
        st.batches.append((_progress_value(p, "durationMs"),
                           _progress_value(p, "numInputRows")))


def _canonical(table: pa.Table) -> pd.DataFrame:
    """Rows in a comparable form: fixed column order, timestamps as epoch
    microseconds, dates as epoch days."""
    df = table.select(list(COLUMNS)).to_pandas()
    df["ts"] = table.column("ts").cast(pa.int64()).to_numpy(zero_copy_only=False)
    df["event_date"] = (
        table.column("event_date").cast(pa.int32()).to_numpy(zero_copy_only=False)
    )
    for c in ("event_id", "user_id", "props_k"):
        df[c] = df[c].astype("int64")
    return df


def expected_rows(st: Stream) -> pa.Table:
    valid = pa.concat_tables(st.valid)
    props_k = [int(s[6:-1]) for s in valid.column("props").to_pylist()]
    days = valid.column("ts").cast(pa.int64()).to_numpy() // 86_400_000_000
    return valid.append_column("props_k", pa.array(props_k, pa.int64())) \
        .append_column("event_date", pa.array(days.astype(np.int32)).cast(pa.date32()))


def content_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash: the wrapping sum of per-row hashes."""
    return int(pd.util.hash_pandas_object(df, index=False)
               .to_numpy().astype(np.uint64).sum())


def check(ctx, st: Stream) -> tuple[list[str], float]:
    """The events table against the generated valid rows (count and
    order-insensitive hash), then the exactly-once contract: a replay from
    a fresh checkpoint commits nothing. Returns the problems found and the
    table's space amplification."""
    problems = []
    back = st.sink.read().select(*COLUMNS).toArrow()
    got, want = _canonical(back), _canonical(expected_rows(st))
    if len(got) != len(want):
        problems.append(f"events read-back has {len(got)} rows, "
                        f"expected {len(want)}")
    elif content_hash(got) != content_hash(want):
        problems.append("events read-back content hash differs from the "
                        "generated valid rows")
    plain = io.BytesIO()
    pq.write_table(back, plain, compression="snappy")
    space_amp = harness.dir_bytes(st.sink._path) / plain.getbuffer().nbytes
    # a fresh checkpoint replays the landing dir from the start,
    # re-issuing epochs 0, 1, ...; each must be recognised as committed
    snaps_before = len(st.sink._log.snapshots())
    drain(ctx, st, checkpoint=os.path.join(st.base, "replay-checkpoint"),
          files_per_trigger=REPLAY_FILES_PER_TRIGGER)
    snaps_after = len(st.sink._log.snapshots())
    rows_after = st.sink.read().count()
    if snaps_after != snaps_before or rows_after != len(got):
        problems.append(
            f"replay from a fresh checkpoint committed "
            f"{snaps_after - snaps_before} snapshots and "
            f"{rows_after - len(got)} rows; expected none"
        )
    return problems, space_amp


def layers(tracer, batches: list[tuple[dict, int]], ops: int,
           ) -> dict[str, tuple[float, str]]:
    """Operator and streaming layers of the ingest ops in ``batches``."""
    trig = [d["triggerExecution"] / 1000.0 for d, _ in batches]
    add = [d.get("addBatch", 0) / 1000.0 for d, _ in batches]
    prep = harness.top_level(tracer, "operators.prep")
    return {
        "operators.prep_s": (harness.ratio(sum(prep), ops), "s"),
        "streaming.trigger_s": (harness.p50(trig), "s"),
        "streaming.add_batch_s": (harness.p50(add), "s"),
        "streaming.overhead_s": (
            harness.p50([t - a for t, a in zip(trig, add)]), "s"),
        "streaming.batches": (float(len(batches)), "count"),
    }
