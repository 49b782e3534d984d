"""Model-based randomized test of the lake snapshot semantics: random
append / overwrite / delete / rollback / merge sequences replay against a
trivially-correct in-memory model, then EVERY historical snapshot is
time-travel-read and compared — the whole state space the example-based
lake tests sample pointwise.

Model: a snapshot is the set of live event_ids (ids are unique across the
run, values derive from ids, so set equality is full-row equality)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators.sink import LakeSink
from bytewax_iceberg_connector_spark.operators.snapshots import CommitConflict

# op grammar: each op consumes the next fresh id block where it needs rows
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 4)),
        st.tuples(st.just("overwrite"), st.integers(1, 4)),
        st.tuples(st.just("delete_below"), st.integers(0, 20)),
        # rollback target picked as an index fraction into history
        st.tuples(st.just("rollback"), st.integers(0, 100)),
        # merge: upsert a block that half-overlaps the live set
        st.tuples(st.just("merge"), st.integers(1, 3)),
        # maintenance ops: live set must be invariant under both
        st.tuples(st.just("compact"), st.integers(0, 0)),
        st.tuples(st.just("expire"), st.integers(1, 3)),
        # dynamic partition overwrite: replaces ONLY the day-partitions
        # the new rows fall into
        st.tuples(st.just("overwrite_partitions"), st.integers(1, 4)),
        # additive schema evolution interleaved with everything else:
        # rows committed WITH an extra column must survive rollback/
        # delete/expire like any others (the default read)
        st.tuples(st.just("append_evolved"), st.integers(1, 3)),
        # write-audit-publish lifecycle interleaved with main traffic:
        # staged rows are invisible on main until publish; publish
        # conflicts (and changes nothing) if main advanced since the
        # fork; drop is the audit-failed arm
        st.tuples(st.just("wap_stage"), st.integers(1, 3)),
        st.tuples(st.just("wap_publish"), st.integers(0, 0)),
        st.tuples(st.just("wap_drop"), st.integers(0, 0)),
        # evolved-schema rows staged on the branch: publish must carry
        # them to main like any other branch commit
        st.tuples(st.just("wap_stage_evolved"), st.integers(1, 2)),
        # named refs: tag a retained main snapshot (or the branch head),
        # read through it immediately and at the end — tag-pinned
        # snapshots must survive expire AND drop_branch (re-homed)
        st.tuples(st.just("tag_set"), st.integers(0, 100)),
        st.tuples(st.just("tag_drop"), st.integers(0, 0)),
        # partition-spec evolution: a metadata-only main snapshot (live
        # set unchanged) that a staged branch still publishes across.
        # It re-installs the day spec under a new spec id, so the
        # overwrite_partitions model below stays exact
        st.tuples(st.just("evolve_spec"), st.integers(0, 0)),
    ),
    min_size=1,
    max_size=5,
)


def _rows(spark, ids, evolved=False):
    if evolved:
        return spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=dt.datetime(2024, 1, 1 + i % 5, 9),
                    v=float(i),
                    q=float(i) * 2,
                )
                for i in ids
            ]
        )
    return spark.createDataFrame(
        [
            Row(event_id=i, ts=dt.datetime(2024, 1, 1 + i % 5, 9), v=float(i))
            for i in ids
        ]
    )


@given(ops=_OPS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.deep
def test_lake_matches_in_memory_model(spark, tmp_path_factory, ops):
    tmp = tmp_path_factory.mktemp("lake_model")
    cfg = IcebergSinkConfig(
        table_name="db.model_events",
        warehouse_path=str(tmp),
        num_partitions=2,
        partition_spec=[("ts", "day")],
    )
    sink = LakeSink(spark, cfg)

    next_id = 0

    def fresh(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    live: set[int] = set()
    history: list[set[int]] = []  # live set after each RETAINED snapshot
    snap_ids: list[int] = []      # that snapshot's real id
    # WAP model: the staged branch's full live set, and whether publish
    # would still fast-forward (False once main advances past the fork)
    branch_live: set[int] | None = None
    publish_ok = True
    # tag model: name -> the exact live set the tag must keep resolving
    # to, HOWEVER the table evolves after (expire, drop_branch, rollback)
    tags: dict[str, set[int]] = {}
    n_tags = 0

    ops_log: list[str] = []   # op kind that produced each retained snapshot

    def committed(kind="append"):
        # snapshot ids are GLOBAL across branches, so read main's real
        # head instead of counting main commits
        history.append(set(live))
        snap_ids.append(sink._log.current_id())
        ops_log.append(kind)

    # ensure the table exists (rollback/delete before any commit is a
    # client error, not a semantics question)
    ids = fresh(2)
    sink.append(_rows(spark, ids))
    live |= set(ids)
    committed("append")

    main_commit_ops = {
        "append", "overwrite", "delete_below", "rollback", "merge",
        "append_evolved", "overwrite_partitions", "compact",
    }

    for op, arg in ops:
        published = False
        if op == "append":
            ids = fresh(arg)
            sink.append(_rows(spark, ids))
            live |= set(ids)
        elif op == "overwrite":
            ids = fresh(arg)
            sink.overwrite(_rows(spark, ids))
            live = set(ids)
        elif op == "delete_below":
            sink.delete(f"event_id < {arg}")
            live = {i for i in live if not i < arg}
        elif op == "rollback":
            # a RETAINED snapshot only: rolling back to an expired one is
            # a client error, not a semantics question
            i = arg % len(history)
            sink.rollback(snap_ids[i])
            live = set(history[i])
        elif op == "merge":
            # half old ids (value update), half fresh (insert)
            old = sorted(live)[: max(arg // 2, 0)]
            ids = old + fresh(arg - len(old))
            sink.merge(_rows(spark, ids), keys=["event_id"])
            live |= set(ids)
        elif op == "append_evolved":
            ids = fresh(arg)
            sink.append(_rows(spark, ids, evolved=True))
            live |= set(ids)
        elif op == "overwrite_partitions":
            ids = fresh(arg)
            sink.overwrite_partitions(_rows(spark, ids))
            # model: the fixture's day partition is ts = 2024-01-(1+id%5),
            # so the new block replaces exactly the live rows sharing a
            # day with any new id
            days = {i % 5 for i in ids}
            live = {i for i in live if i % 5 not in days} | set(ids)
        elif op == "compact":
            sink.compact()  # a rewrite snapshot: live set invariant
        elif op == "wap_stage":
            ids = fresh(arg)
            sink.append(_rows(spark, ids), branch="wap")
            if branch_live is None:
                branch_live = set(live) | set(ids)
                publish_ok = True
            else:
                branch_live |= set(ids)
            # the audit read: the staged branch shows fork-state + staged
            got_b = {
                r.event_id
                for r in sink.read(branch="wap")
                .select("event_id")
                .collect()
            }
            assert got_b == branch_live, (got_b, branch_live)
        elif op == "wap_publish":
            if branch_live is None:
                with pytest.raises(LookupError):
                    sink.publish("wap")
            elif publish_ok:
                sink.publish("wap")
                live = set(branch_live)
                published = True
            else:
                # main advanced since the fork: fast-forward must refuse
                # rather than silently drop main's commits
                with pytest.raises(CommitConflict):
                    sink.publish("wap")
        elif op == "wap_stage_evolved":
            ids = fresh(arg)
            sink.append(_rows(spark, ids, evolved=True), branch="wap")
            if branch_live is None:
                branch_live = set(live) | set(ids)
                publish_ok = True
            else:
                branch_live |= set(ids)
            got_b = {
                r.event_id
                for r in sink.read(branch="wap")
                .select("event_id")
                .collect()
            }
            assert got_b == branch_live, (got_b, branch_live)
        elif op == "wap_drop":
            if branch_live is None:
                with pytest.raises(LookupError):
                    sink.drop_branch("wap")
            else:
                sink.drop_branch("wap")  # audit failed: staged data gone
                branch_live = None
        elif op == "tag_set":
            name = f"t{n_tags}"
            n_tags += 1
            if branch_live is not None and arg % 2 == 1:
                # pin the STAGED branch head: must keep resolving even
                # after the branch itself is dropped (re-homed detached)
                sink.tag(name, sink._log.current_id("wap"))
                tags[name] = set(branch_live)
            else:
                i = arg % len(history)
                sink.tag(name, snap_ids[i])
                tags[name] = set(history[i])
            got_t = {
                r.event_id
                for r in sink.read(tag=name)
                .select("event_id")
                .collect()
            }
            assert got_t == tags[name], (name, got_t, tags[name])
        elif op == "tag_drop":
            if tags:
                name = sorted(tags)[0]
                sink.drop_tag(name)
                del tags[name]
            else:
                with pytest.raises(LookupError):
                    sink.drop_tag("t_missing")
        elif op == "evolve_spec":
            sink.evolve_partition_spec([("ts", "day")])
            committed("evolve")
        elif op == "expire":
            # reclaims unreferenced data; live set and the retained
            # trailing window of snapshots must be untouched. NOTE: while
            # a branch is live its fork lineage is additionally retained
            # (ref-aware expire); the model window is a conservative
            # subset, which the final sweep only ever reads
            sink.expire_snapshots(keep_last=arg)
            history = history[-arg:]
            snap_ids = snap_ids[-arg:]
            ops_log = ops_log[-arg:]
        if op in main_commit_ops:
            if branch_live is not None:
                # main advanced past the branch fork: a later publish
                # must now conflict instead of dropping this commit
                publish_ok = False
            committed(op)
        elif published:
            committed("publish")  # publish is itself a main snapshot
        got = {r.event_id for r in sink.read().select("event_id").collect()}
        assert got == live, (op, arg, got, live)

    # every retained snapshot must still read back exactly (expire trims
    # the front of the window; compact/rollback append rewrite snapshots)
    for snap_id, want in zip(snap_ids, history):
        got = {
            r.event_id
            for r in sink.read(as_of=snap_id).select("event_id").collect()
        }
        assert got == want, (snap_id, got, want, snap_ids)

    # CDC closure (r07): changes(v_i, v_j) between retained snapshots
    # must restate the model diff. Ids are unique and values derive from
    # the id, so the only rows CDC may report beyond the id-set diff are
    # delete+insert PAIRS for the same id (an in-place value change —
    # e.g. a merge replacing an evolved row with a null-filled one);
    # those must pair up exactly and only over ids live in BOTH
    # snapshots. Bounded to ≤3 pairs per example for wall-clock.
    if len(snap_ids) >= 2:
        pairs = {(0, len(snap_ids) - 1), (0, 1),
                 (len(snap_ids) - 2, len(snap_ids) - 1)}
        for i, j in sorted(pairs):
            if i >= j:
                continue
            ch = (
                sink.changes(snap_ids[i], snap_ids[j])
                .select("event_id", "_change_type")
                .collect()
            )
            ins = sorted(r.event_id for r in ch if r._change_type == "insert")
            dels = sorted(r.event_id for r in ch if r._change_type == "delete")
            must_ins = history[j] - history[i]
            must_del = history[i] - history[j]
            assert must_ins <= set(ins), (i, j, ins, must_ins)
            assert must_del <= set(dels), (i, j, dels, must_del)
            extra_i = sorted(x for x in ins if x not in must_ins)
            extra_d = sorted(x for x in dels if x not in must_del)
            assert extra_i == extra_d, (i, j, extra_i, extra_d)
            assert set(extra_i) <= (history[i] & history[j])

    # incremental-read closure (r07): over the same sampled pairs,
    # read_incremental must (a) succeed and return EXACTLY the live-set
    # growth when every op in the range is a pure append, and (b) in
    # every other case either veto with ValueError or — if it does
    # return (e.g. a publish range that is append-only on the lineage)
    # — still return exactly the growth: a wrongly-accepted replacing
    # range cannot match growth (removals make growth ≠ appended files).
    if len(snap_ids) >= 2:
        append_kinds = {"append", "append_evolved"}
        for i, j in sorted(pairs):
            if i >= j:
                continue
            range_ops = ops_log[i + 1: j + 1]
            all_append = all(o in append_kinds for o in range_ops)
            try:
                inc = {
                    r.event_id
                    for r in sink.read_incremental(snap_ids[i], snap_ids[j])
                    .select("event_id")
                    .collect()
                }
            except ValueError:
                assert not all_append, (i, j, range_ops)
                continue
            assert inc == history[j] - history[i], (
                i, j, range_ops, inc, history[j] - history[i]
            )

    # TIMESTAMP AS OF closure (r07): reading at a retained snapshot's
    # own logged wall-clock must resolve along MAIN lineage only (staged
    # wap commits are invisible) to the latest retained main snapshot at
    # or before that instant — consecutive commits often share a
    # millisecond in tests, so the expectation is ms-collision aware
    # (max window index whose ts <= t). Bounded to ≤3 probes.
    ts_of = {
        s["snapshot_id"]: s["timestamp_ms"]
        for s in sink._log.snapshots()
        if s.get("branch", "main") == "main"
    }
    win_ts = [ts_of.get(s) for s in snap_ids]
    probe_idx = sorted({0, len(snap_ids) // 2, len(snap_ids) - 1})
    for idx in probe_idx:
        t = win_ts[idx]
        if t is None:
            continue
        cand = [k for k, t2 in enumerate(win_ts) if t2 is not None and t2 <= t]
        want_ts = history[max(cand)]
        got_ts = {
            r.event_id
            for r in sink.read(as_of_timestamp_ms=t)
            .select("event_id")
            .collect()
        }
        assert got_ts == want_ts, (idx, t, got_ts, want_ts)

    # stats-prune closure (r07): file skipping from footer-harvested
    # bounds must be a pure SUPERSET optimization — a banded read plus
    # the residual row filter must equal the model's filter, whatever
    # evolution/compaction/rollback did to the files (v = float(id)).
    if live:
        lo = float(min(live))
        hi = float(sorted(live)[len(live) // 2])
        got_p = {
            r.event_id
            for r in sink.read(prune={"v": (lo, hi)})
            .where(f"v >= {lo} AND v <= {hi}")
            .select("event_id")
            .collect()
        }
        want_p = {i for i in live if lo <= float(i) <= hi}
        assert got_p == want_p, (lo, hi, got_p, want_p)

    # every surviving tag must still resolve to its pinned live set —
    # even when expire trimmed past it or its branch was dropped
    for name, want in tags.items():
        got = {
            r.event_id
            for r in sink.read(tag=name)
            .select("event_id")
            .collect()
        }
        assert got == want, (name, got, want)


# ---------------------------------------------------------------------------
# exactly-once batch dedup model: replays, restarts, expiry
# ---------------------------------------------------------------------------

_EO_OPS = st.lists(
    st.one_of(
        # deliver the next micro-batch (1-3 rows)
        st.tuples(st.just("batch"), st.integers(1, 3)),
        # re-deliver the LAST committed batch verbatim (the crash-replay
        # window Spark's checkpoint leaves open: committed, not acked)
        st.tuples(st.just("replay_last"), st.integers(0, 0)),
        # process restart: a fresh sink instance rebuilds its batch-id
        # cache from the surviving snapshot files
        st.tuples(st.just("restart"), st.integers(0, 0)),
        # retention runs concurrently with the stream
        st.tuples(st.just("expire"), st.integers(1, 2)),
        # non-streaming maintenance interleaves (compact commits a
        # batchless rewrite snapshot)
        st.tuples(st.just("compact"), st.integers(0, 0)),
    ),
    min_size=2,
    max_size=6,
)


@given(ops=_EO_OPS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.deep
def test_streaming_batch_dedup_matches_exactly_once_model(
    spark, tmp_path_factory, ops
):
    """Model-based exactly-once: random interleavings of micro-batch
    commits, verbatim replays of the last batch, process restarts, and
    retention must never double-apply a batch — the model is a dict of
    applied batch ids. The replay path is the same decision
    write_stream's foreachBatch makes (`_replayed_batch` then append)."""
    tmp = tmp_path_factory.mktemp("eo_model")
    cfg = IcebergSinkConfig(
        table_name="db.eo_events",
        warehouse_path=str(tmp),
        num_partitions=1,
        partition_spec=[("ts", "day")],
    )

    def mk_sink():
        return LakeSink(spark, cfg)

    sink = mk_sink()
    next_id = 0
    next_batch = 0
    applied: dict[int, list[int]] = {}
    live: set[int] = set()

    def fresh(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    def deliver(batch_id, ids):
        # exactly the write_stream _commit_batch decision
        if not sink._replayed_batch(batch_id):
            sink.append(_rows(spark, ids), batch_id=batch_id)

    # first batch so replay/expire have substance
    ids = fresh(2)
    deliver(next_batch, ids)
    applied[next_batch] = ids
    live |= set(ids)
    next_batch += 1

    for op, arg in ops:
        if op == "batch":
            ids = fresh(arg)
            deliver(next_batch, ids)
            applied[next_batch] = ids
            live |= set(ids)
            next_batch += 1
        elif op == "replay_last":
            last = next_batch - 1
            deliver(last, applied[last])  # model: MUST be a no-op
        elif op == "restart":
            sink = mk_sink()
        elif op == "expire":
            sink.expire_snapshots(keep_last=arg)
        elif op == "compact":
            sink.compact()
        got = {
            r.event_id
            for r in sink.read().select("event_id").collect()
        }
        assert got == live, (op, arg, sorted(got), sorted(live))


# ---------------------------------------------------------------------------
# r10-staged: snapshot-aware near-dup (registered after CORRECTNESS_r09)
# ---------------------------------------------------------------------------


@pytest.mark.deep
def test_dedup_snapshot_matches_oracle(spark, sf_dir):
    """Staged B23c: new-crawl near-dup against a PUBLISHED lake snapshot
    (read(as_of=) + read_incremental feed the banded MinHash join). The
    oracle recomputes the exact cross-pair jaccard from the raw table —
    matching proves BOTH the dedup semantics and that the lake round-trip
    fed it losslessly. Differential-proven here pre-registration; flips
    into QUERIES/ORACLE in r10 (registry rotation discipline)."""
    from pathlib import Path

    from _diffutil import assert_df_match, duck_oracle
    from bytewax_iceberg_connector_spark.plans.lake import (
        _SQL_DEDUP_SNAPSHOT,
        dedup_snapshot,
    )

    sp = dedup_snapshot(spark, sf_dir).toPandas()
    op = duck_oracle(Path(sf_dir), _SQL_DEDUP_SNAPSHOT)
    assert_df_match(sp, op)
    # non-vacuous: the synthetic corpus plants near-dups across the split
    assert sp["n_near_dup_of_history"].sum() > 0


@pytest.mark.deep
def test_dedup_snapshot_survives_history_compaction(spark, sf_dir):
    """Snapshot isolation claim in the docstring: compacting history after
    the batch landed must not change the manifest (reads pin snapshots,
    so maintenance never double-feeds the join). Mirrors the production
    sequence: publish -> land batch -> compact -> audit."""
    import tempfile

    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.plans.lake import (
        _SNAP_BATCH_MOD,
        _SNAP_BATCH_RESIDUE,
    )
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    is_batch = (
        F.pmod(F.col("doc_id"), F.lit(_SNAP_BATCH_MOD)) == _SNAP_BATCH_RESIDUE
    )
    warehouse = tempfile.mkdtemp(prefix="bic_snapdd_t_")
    cfg = IcebergSinkConfig(
        table_name="analytics.docs_lake",
        warehouse_path=warehouse,
        num_partitions=4,
    )
    sink = LakeSink(spark, cfg)
    sink.append(docs.where(~is_batch))
    sink.append(docs.where(is_batch))
    before = sink.read(as_of=1).count()
    sink.compact()
    # the published snapshot is still readable post-compaction and sizes
    # agree (compaction is just another snapshot)
    assert sink.read(as_of=1).count() == before
    assert sink.read().count() == docs.count()
