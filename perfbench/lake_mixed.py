"""``lake_mixed``: reads beside writes, streaming ingest and maintenance.

Set-up preloads a ``day(ts)``-partitioned table with small append
commits. One closed-loop client then runs decks of ops over it, mostly
reads: a pruned id-range scan (``read(prune=...)``), a full group-by
aggregate, an ``as_of`` time-travel read and a ``read_incremental``; the
writes are small ``append``s and ``merge`` upserts; each deck ends with
``compact()`` + ``expire_snapshots()`` as one op. Beside that table, the
deck's ``ingest`` ops stream landed event files into an events table
through the reference's own pipeline (``ingest.py``: validate, enrich,
``write_stream``, one snapshot commit per micro-batch). A deck has a fixed
composition and a seeded order, and windows hold whole decks, so every
run measures the same mix whatever its seed or speed. Every
read result is checked against a model of the op sequence the benchmark
keeps (outside the op timer); at the end the whole table is compared
with the model before and after a final ``compact()``, and the events
table with the generated valid rows and a replay from a fresh checkpoint.

One op is one client call, including building the input DataFrame of a
write and collecting the result of a read; an ingest call counts one op
per micro-batch, timed by Spark's progress report, while its whole call,
stream start included, counts as busy time. A window is a fixed number
of decks.

Sizes: an append writes one flush of the reference's default sink
configuration (``batch_size`` rows, 1000), and a merge upserts one flush,
half updates of live ids and half new ids, as a streaming merge of one
micro-batch would. The rest were picked only to fit the run into the time
budget: the three preload commits, the 2000-id range scan, keeping six
snapshots, two landed files per ingest op, and the deck of 11 reads,
4 writes, 2 ingest ops and 1 maintenance op (reads the majority, as the
mix intends; every read kind at least twice per deck).
"""

from __future__ import annotations

import io
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, harness, ingest, stats
from perfbench.harness import Outcome, Window
from perfbench.model import LakeModel, check as model_check

PRELOAD_COMMITS = 3
RANGE_WIDTH = 2000
KEEP_SNAPSHOTS = 6
#: one deck: 11 reads, 4 writes, 2 ingest ops, then one maintenance op
DECK = (("read_range", 5), ("read_agg", 2), ("read_asof", 2),
        ("read_incr", 2), ("append", 3), ("merge", 1), ("ingest", 2))
READS = ("read_range", "read_agg", "read_asof", "read_incr")
WRITES = ("append", "merge")
#: landed files an ingest op drains, one micro-batch and commit each
FILES_PER_INGEST = 2
COLUMNS = ("id", "ts", "grp", "val", "note")
#: decks per second of ``--seconds``: 10 s give 2 decks, 40 ops, a tail at
#: p75; never fewer than 2
DECKS_PER_S = 0.2
MIN_DECKS = 2
_OPS_STREAM = 7


class State:
    def __init__(self, ctx, sink, events: ingest.Stream) -> None:
        self.sink = sink
        self.events = events
        #: rows per append and per merge: one default flush
        self.batch = sink.config.batch_size
        self.model = LakeModel()
        self.next_id = 0
        self.op_index = 0  # seeds each op's generated rows
        #: snapshot id -> (rows, sum of val) after that commit
        self.totals: dict[int, tuple[int, float]] = {}
        #: append-only run since the last replacing commit:
        #: [(snapshot id, rows added, val added)]
        self.chain: list[tuple[int, int, float]] = []
        self.retained: set[int] = set()
        self.user_bytes = 0
        self.mix_rng = gen.rng(ctx.seed, _OPS_STREAM)


def _rows(table: pa.Table) -> list[tuple]:
    ts = table.column("ts").cast(pa.int64()).to_pylist()
    return list(zip(table.column("id").to_pylist(), ts,
                    table.column("grp").to_pylist(),
                    table.column("val").to_pylist(),
                    table.column("note").to_pylist()))


def _plain_bytes(table: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getbuffer().nbytes


def _after_commit(st: State, replacing: bool, added: tuple[int, float]) -> None:
    sid = st.sink.current_snapshot_id()
    st.totals[sid] = st.model.totals()
    st.retained.add(sid)
    if replacing:
        st.chain = [(sid, 0, 0.0)]
    else:
        st.chain.append((sid, *added))


def _timed(ctx, name: str, call):
    """Run the engine call of one op under its span; returns (seconds,
    result)."""
    t0 = time.perf_counter()
    with ctx.span(name):
        result = call()
    return time.perf_counter() - t0, result


def do_append(ctx, st: State) -> tuple[float, None]:
    ids = np.arange(st.next_id, st.next_id + st.batch)
    table = gen.lake_rows(ctx.seed, st.op_index, ids)
    st.op_index += 1
    dt, _ = _timed(ctx, "op.append", lambda: st.sink.append(
        ctx.spark.createDataFrame(table)))
    st.next_id += st.batch
    rows = _rows(table)
    st.model.append(rows)
    st.user_bytes += _plain_bytes(table)
    _after_commit(st, False, (len(rows), sum(r[3] for r in rows)))
    return dt, None


def do_merge(ctx, st: State) -> tuple[float, None]:
    r = st.mix_rng
    half = st.batch // 2
    old = r.choice(np.fromiter(st.model.rows, np.int64), half, replace=False)
    new = np.arange(st.next_id, st.next_id + half)
    table = gen.lake_rows(ctx.seed, st.op_index, np.concatenate([old, new]))
    st.op_index += 1
    dt, _ = _timed(ctx, "op.merge", lambda: st.sink.merge(
        ctx.spark.createDataFrame(table), keys=["id"]))
    st.next_id += half
    st.model.merge(_rows(table))
    _after_commit(st, True, (0, 0.0))
    return dt, None


def do_ingest(ctx, st: State) -> tuple[float, None]:
    ingest.land(ctx, st.events, FILES_PER_INGEST)
    dt, _ = _timed(ctx, "op.ingest", lambda: ingest.ingest(ctx, st.events))
    return dt, None


def do_maintain(ctx, st: State) -> tuple[float, None]:
    def call():
        st.sink.compact()
        st.sink.expire_snapshots(keep_last=KEEP_SNAPSHOTS)

    dt, _ = _timed(ctx, "op.maintain", call)
    _after_commit(st, True, (0, 0.0))
    st.retained = {s["snapshot_id"] for s in st.sink._log.snapshots()}
    st.chain = [c for c in st.chain if c[0] in st.retained]
    return dt, None


def _count_sum(ctx, df) -> tuple[int, float]:
    from pyspark.sql import functions as F

    with ctx.span("sink.scan"):
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("val").alias("s")).collect()[0]
    return int(row["n"]), float(row["s"] or 0.0)


def do_read(ctx, st: State, kind: str) -> tuple[float, str | None]:
    """Run one read op; returns its seconds and a mismatch against the
    model, or None."""
    from pyspark.sql import functions as F

    r = st.mix_rng
    sink = st.sink
    if kind == "read_range":
        lo = int(r.integers(0, max(1, st.next_id - RANGE_WIDTH)))
        hi = lo + RANGE_WIDTH - 1
        dt, got = _timed(ctx, "op.read_range", lambda: _count_sum(
            ctx, sink.read(prune={"id": (lo, hi)})
            .where(F.col("id").between(lo, hi))))
        want = st.model.totals(lo, hi)
    elif kind == "read_agg":
        def call():
            df = sink.read()
            with ctx.span("sink.scan"):
                return df.groupBy("grp").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
                ).collect()

        dt, rows = _timed(ctx, "op.read_agg", call)
        got = {x["grp"]: (int(x["n"]), float(x["s"])) for x in rows}
        want = st.model.group_totals()
    elif kind == "read_asof":
        choices = sorted(s for s in st.totals if s in st.retained)
        sid = int(choices[int(r.integers(0, len(choices)))])
        dt, got = _timed(ctx, "op.read_asof", lambda: _count_sum(
            ctx, sink.read(as_of=sid)))
        want = st.totals[sid]
    else:
        pick = int(r.integers(0, max(1, len(st.chain) - 1)))
        base = st.chain[pick][0]
        dt, got = _timed(ctx, "op.read_incr", lambda: _count_sum(
            ctx, sink.read_incremental(base)))
        want = (sum(c[1] for c in st.chain[pick + 1:]),
                sum(c[2] for c in st.chain[pick + 1:]))
    if got != want:
        return dt, f"{kind}: engine {got} != model {want}"
    return dt, None


def deal(st: State) -> list[str]:
    """A fresh deck: the fixed op counts in a seeded order, then the
    maintenance op."""
    ops = [kind for kind, n in DECK for _ in range(n)]
    return [ops[i] for i in st.mix_rng.permutation(len(ops))] + ["maintain"]


def run_deck(ctx, st: State, outcome: Outcome, w: Window | None) -> None:
    for kind in deal(st):
        step(ctx, st, kind, outcome, w)


def step(ctx, st: State, kind: str, outcome: Outcome,
         w: Window | None) -> None:
    """One op. Only the engine call is timed: input generation and the
    model upkeep and check run outside it."""
    outcome.attempted += w is not None
    ctx.begin_op()
    batches = len(st.events.batches)
    try:
        if kind == "append":
            dt, mismatch = do_append(ctx, st)
        elif kind == "merge":
            dt, mismatch = do_merge(ctx, st)
        elif kind == "ingest":
            dt, mismatch = do_ingest(ctx, st)
        elif kind == "maintain":
            dt, mismatch = do_maintain(ctx, st)
        else:
            dt, mismatch = do_read(ctx, st, kind)
    except Exception as exc:  # noqa: BLE001 - counted, run goes on
        outcome.failed += w is not None
        outcome.detail.setdefault("op_errors", []).append(
            f"{kind}: {exc!r}"[:300])
        return
    if mismatch:
        outcome.errors.append(mismatch)
    if w is None:
        return
    w.busy_s += dt
    if kind == "ingest":
        # the stream's unit of work is the micro-batch, one snapshot commit
        # each: one sample per batch, timed by Spark's progress report
        w.extra.setdefault("ingest_calls", []).append(dt)
        w.samples.extend(("commit", d["triggerExecution"] / 1000.0)
                         for d, _ in st.events.batches[batches:])
    else:
        w.samples.append((kind, dt))


def measure(ctx, st: State, decks: int, outcome: Outcome) -> Window:
    w = Window()
    user_bytes, landed = st.user_bytes, st.events.landed_bytes
    batches = len(st.events.batches)
    for _ in range(decks):
        run_deck(ctx, st, outcome, w)
    w.extra["user_bytes"] = (st.user_bytes - user_bytes
                             + st.events.landed_bytes - landed)
    w.extra["batches"] = st.events.batches[batches:]
    return w


def final_check(ctx, st: State, outcome: Outcome) -> None:
    def table_rows() -> list[tuple]:
        return _rows(st.sink.read().select(*COLUMNS).toArrow())

    problem = model_check(st.model, table_rows())
    if problem:
        outcome.errors.append(f"final table != model: {problem}")
    model_table = pa.Table.from_pylist(
        [dict(zip(COLUMNS, r)) for r in st.model.rows.values()]
    )
    outcome.detail["space_amp"] = (
        harness.dir_bytes(st.sink._path) / _plain_bytes(model_table)
    )
    st.sink.compact()
    problem = model_check(st.model, table_rows())
    if problem:
        outcome.errors.append(f"compact() changed content: {problem}")
    outcome.detail["rows"] = len(st.model.rows)
    problems, events_amp = ingest.check(ctx, st.events)
    outcome.errors.extend(problems)
    outcome.detail["events_space_amp"] = events_amp


def run(ctx) -> Outcome:
    from bytewax_iceberg_connector_spark import IcebergSinkConfig, LakeSink

    def build(rep: int) -> State:
        # the reference's defaults: batch_size sets the append and merge size
        sink = LakeSink(ctx.spark, IcebergSinkConfig(
            table_name="lake.mixed",
            warehouse_path=ctx.path(f"lake{rep}"),
            partition_spec=[("ts", "day")],
        ))
        base = ctx.path(f"ingest{rep}")
        events = ingest.Stream(base, LakeSink(
            ctx.spark, ingest.sink_config(os.path.join(base, "warehouse"))))
        ingest.land(ctx, events, ingest.WARM_FILES)
        st = State(ctx, sink, events)
        for _ in range(PRELOAD_COMMITS):
            do_append(ctx, st)
        return st

    outcome = Outcome()
    st = ctx.setups(build)
    phase = harness.Phases(outcome)
    # warm-up: every op kind once, so each code path is compiled
    for kind in ("append", *READS, "merge", "ingest", "maintain"):
        step(ctx, st, kind, outcome, None)
    phase("warm")
    outcome.windows = ctx.windows(
        lambda decks: measure(ctx, st, decks, outcome), DECKS_PER_S, MIN_DECKS,
    )
    phase("measure")
    final_check(ctx, st, outcome)
    phase("check")

    main = outcome.windows[-1]
    reads = [t for k, t in main.samples if k in READS]
    writes = [t for k, t in main.samples if k in WRITES]
    ingests = main.extra.get("ingest_calls", [])
    batches = main.extra["batches"]
    commits = main.latencies("commit")
    outcome.detail.update({
        "op": "one client call of the mix, or one micro-batch of an ingest call",
        "mixed_ops_per_s": main.ops_per_s(),
        "read_p50_s": harness.p50(reads),
        "read_tail": stats.tail_summary(reads),
        "write_p50_s": harness.p50(writes),
        "write_tail": stats.tail_summary(writes),
        "ingest_rows_per_s": harness.ratio(sum(n for _, n in batches),
                                           sum(ingests)),
        "ingest_call_p50_s": harness.p50(ingests),
        "commit_p50_s": harness.p50(commits),
        "commit_tail": stats.tail_summary(commits),
        "op_s": {k: sorted(round(t, 4) for t in main.latencies(k))
                 for k in (*READS, *WRITES, "commit", "maintain")},
    })
    if ctx.tracer is not None:
        outcome.layers = layers(ctx, outcome)
    return outcome


def layers(ctx, outcome: Outcome) -> dict[str, tuple[float, str]]:
    tracer = ctx.tracer
    traced = outcome.windows[-1]
    c = tracer.counts
    return {
        "sink.scan_s": (harness.p50(tracer.durations("sink.scan")), "s"),
        "sink.bytes_per_user_byte": (
            harness.ratio(c.get("sink.append_bytes", 0),
                          traced.extra["user_bytes"]), "ratio"),
        "sink.space_amp": (outcome.detail["space_amp"], "ratio"),
        **ingest.layers(tracer, traced.extra["batches"],
                        len(traced.extra.get("ingest_calls", []))),
    }
