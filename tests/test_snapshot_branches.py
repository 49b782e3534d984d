"""Regression tests for branch (write-audit-publish) retention semantics of
the SnapshotLog — the round-3 advice findings:

1. ``expire`` must be branch-aware: an active branch's snapshots (which can
   carry ids above main's head and below main's retention cutoff) keep both
   their metadata files and their data dirs.
2. ``drop_branch`` must honor tag pins: a tagged branch snapshot survives as
   a detached snapshot the tag still resolves to.
3. Re-``publish`` of a still-active branch is the normal fast-forward loop,
   not a conflict.
4. ``publish`` carries the branch lineage's streaming batch ids so
   exactly-once dedup survives commit→publish→drop_branch.

Then the table state each v-file carries (schema, partition spec), the
rewrite validation of ``commit(replaces=)``, and the branch heads and
batch-id lineage each v-file carries, which bound every head and batch-id
lookup to the newest v-file and the heads it names.

All tests drive SnapshotLog directly (no Spark session needed): commits are
fake data dirs containing one marker file.
"""

from __future__ import annotations

import os

import pytest

from bytewax_iceberg_connector_spark.operators.snapshots import (
    CommitConflict,
    SnapshotLog,
)


@pytest.fixture()
def log(tmp_path):
    sl = SnapshotLog(str(tmp_path / "tbl"))
    sl.init_table({"schema": "fake", "partition_spec": []})
    return sl


def _append(log: SnapshotLog, *, branch: str = "main",
            batch_id: int | None = None) -> tuple[int, str]:
    """Fake one data commit: a dir with a marker file + a snapshot."""
    name, path = log.new_commit_dir()
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.marker"), "w") as f:
        f.write(name)
    sid = log.commit("append", [name], branch=branch, batch_id=batch_id)
    return sid, name


def _live_dirs_exist(log: SnapshotLog, branch: str = "main") -> bool:
    return all(os.path.isdir(p) for p in log.commit_paths(branch=branch))


# -- finding 1: branch-aware expire -------------------------------------


def test_expire_keeps_active_branch_snapshots_and_data(log):
    for _ in range(3):
        _append(log)
    main_head = log.current_id()
    b1, _ = _append(log, branch="audit")
    b2, _ = _append(log, branch="audit")
    assert b2 > main_head  # branch ids above main's head

    log.expire(keep_last=2)

    # branch metadata intact, branch data dirs intact and readable
    assert log.current_id("audit") == b2
    assert log.snapshot(b1)["branch"] == "audit"
    assert _live_dirs_exist(log, branch="audit")
    # and main time travel within its window still works
    assert _live_dirs_exist(log, branch="main")


def test_expire_then_publish_still_fast_forwards(log):
    for _ in range(4):
        _append(log)
    _append(log, branch="audit")
    log.expire(keep_last=1)  # punches holes below the branch fork lineage
    pid = log.publish("audit")
    assert log.current_id() == pid
    assert _live_dirs_exist(log)  # published data readable on main


def test_expire_retains_branch_fork_lineage_data(log):
    """The branch's live set includes commits created on MAIN before the
    fork; expire on main must not delete those dirs while the branch can
    still read them."""
    _, pre_fork = _append(log)           # main commit the branch inherits
    _append(log, branch="audit")
    for _ in range(3):                   # main moves on
        _append(log)
    log.expire(keep_last=1)
    # main's keep-last window alone would have dropped pre_fork only if
    # unreferenced — the branch still references it
    assert pre_fork in log.live_commits(branch="audit")
    assert _live_dirs_exist(log, branch="audit")


def test_expire_selects_main_window_from_main_history_not_id_range(log):
    """Main ids 1,2 then (dropped) branch ids 3,4 then main id 5:
    keep_last=2 must retain main snapshots {2,5} (main's own newest two),
    not the id window {4,5} — ids interleave across branches."""
    m1, _ = _append(log)
    m2, _ = _append(log)
    _append(log, branch="b")
    _append(log, branch="b")
    m5, _ = _append(log)
    log.drop_branch("b")  # no live branch: pure main-window selection
    expired, _removed = log.expire(keep_last=2)
    assert expired == [m1]
    assert log.snapshot(m2)["snapshot_id"] == m2  # retained
    assert log.current_id() == m5


# -- finding 2: drop_branch honors tags ----------------------------------


def test_drop_branch_keeps_tagged_snapshot_as_detached(log):
    _append(log)
    main_head = log.current_id()
    sid, name = _append(log, branch="audit")
    log.set_tag("staged-release", sid)

    dropped = log.drop_branch("audit")

    assert sid not in dropped
    # tag still resolves to a readable snapshot with live data
    rsid = log.resolve_tag("staged-release")
    snap = log.snapshot(rsid)
    assert snap["detached_from_branch"] == "audit"
    assert all(os.path.isdir(p) for p in log.commit_paths(rsid))
    # the branch itself is gone and main never moved
    assert "audit" not in log.branches()
    assert log.current_id("audit") == 0
    assert log.current_id() == main_head


def test_drop_branch_untagged_snapshots_still_vanish(log):
    _append(log)
    s1, n1 = _append(log, branch="audit")
    s2, _ = _append(log, branch="audit")
    log.set_tag("pin", s2)
    dropped = log.drop_branch("audit")
    assert dropped == [s1]
    with pytest.raises(LookupError):
        log.snapshot(s1)
    # s1's exclusive dir is gone; s2's data (which includes n1 via the
    # cumulative live list) survives through the tag pin
    assert all(os.path.isdir(p) for p in log.commit_paths(s2))


def test_expire_retains_detached_tagged_snapshot(log):
    _append(log)
    sid, _ = _append(log, branch="audit")
    log.set_tag("keep", sid)
    log.drop_branch("audit")
    for _ in range(3):
        _append(log)
    log.expire(keep_last=1)
    assert all(os.path.isdir(p) for p in log.commit_paths(log.resolve_tag("keep")))


# -- finding 3: re-publish of a still-active branch ----------------------


def test_republish_same_branch_fast_forwards(log):
    _append(log)
    _append(log, branch="wap", batch_id=0)
    p1 = log.publish("wap")
    assert log.current_id() == p1
    # branch keeps staging after the first publish
    _append(log, branch="wap", batch_id=1)
    p2 = log.publish("wap")  # must NOT raise CommitConflict
    assert log.current_id() == p2
    assert log.live_commits() == log.live_commits(branch="wap")


def test_publish_still_rejects_foreign_main_advance(log):
    _append(log)
    _append(log, branch="wap")
    _append(log)  # main advances through a route that is NOT this branch
    with pytest.raises(CommitConflict):
        log.publish("wap")


def test_publish_rejects_other_branch_publish(log):
    _append(log)
    _append(log, branch="a")
    _append(log, branch="b")
    log.publish("a")
    with pytest.raises(CommitConflict):
        log.publish("b")  # main advanced via branch a, not b


# -- finding 4: batch ids survive publish + drop_branch ------------------


def test_publish_carries_branch_batch_ids_through_drop(log):
    _append(log, batch_id=100)  # direct-to-main streaming commit
    _append(log, branch="wap", batch_id=7)
    _append(log, branch="wap", batch_id=8)
    log.publish("wap")
    log.drop_branch("wap")
    assert {7, 8, 100} <= log.committed_batch_ids()


def test_republish_and_drop_keeps_all_batch_ids(log):
    _append(log, branch="wap", batch_id=1)
    log.publish("wap")
    _append(log, branch="wap", batch_id=2)
    log.publish("wap")
    log.drop_branch("wap")
    assert {1, 2} <= log.committed_batch_ids()
    # replaying either batch would be recognized as a duplicate


def test_publish_races_concurrent_branch_append(log):
    """A publish racing an append on the SAME branch must serialize
    through the version-file create: whichever order lands, no snapshot
    is lost, main's live set equals some branch prefix, and a follow-up
    publish drains the remainder."""
    import threading

    _append(log)
    _append(log, branch="wap", batch_id=0)

    errs = []

    def do_append():
        try:
            _append(log, branch="wap", batch_id=1)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_publish():
        try:
            log.publish("wap")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=do_append)
    t2 = threading.Thread(target=do_publish)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    # no lost snapshots: branch carries both batch commits
    assert {0, 1} <= {
        s.get("batch_id")
        for s in log.snapshots()
        if s.get("branch") == "wap"
    }
    # main's live set is a prefix of the branch's (publish saw some head)
    main_live = set(log.live_commits())
    branch_live = set(log.live_commits(branch="wap"))
    assert main_live <= branch_live
    # draining publish converges main to the branch head
    log.publish("wap")
    assert set(log.live_commits()) == branch_live
    # and the full batch-id dedup set survives a drop
    log.drop_branch("wap")
    assert {0, 1} <= log.committed_batch_ids()


def test_snapshot_ids_never_reused_after_drop_branch(log):
    """Found by the r07 exactly-once probes: drop_branch unlinking the
    HIGHEST v-file let the next commit re-issue that id — aliasing two
    different table states under one VERSION AS OF handle and slipping
    under live instances' incremental batch-id caches (which scan only
    (seen_v, max_v]). Unlinks now leave .dropped tombstones, so the
    version counter is monotone over every id ever issued."""
    a, _ = _append(log)                      # v1 main
    b, _ = _append(log, branch="x")          # v2 branch (max)
    assert b == a + 1
    log.drop_branch("x")
    c, _ = _append(log)
    assert c == b + 1, "dropped id was re-issued"


def test_snapshot_ids_never_reused_after_expire_of_detached_max(log):
    """The same monotonicity through the OTHER unlink path: a
    tag-pinned branch head survives drop_branch detached; dropping the
    tag and expiring unlinks it while it holds the max id — the next
    commit must still advance past it."""
    _append(log)
    h, _ = _append(log, branch="x")
    log.set_tag("pin", h)
    log.drop_branch("x")     # re-homed detached, still max
    log.drop_tag("pin")
    log.expire(keep_last=1)  # unlinks the detached max
    c, _ = _append(log)
    assert c == h + 1, "expired detached id was re-issued"


# -- r08 advice: batch-id fold target on branch-only history --------------


def test_expire_folds_batch_ids_without_main_snapshots(log):
    """A history with NO main snapshots (branch-only) must keep expired
    batch ids: the branch head carries its lineage's ids, so expiring
    the snapshot a batch committed in drops no id (a restarted sink
    would otherwise re-apply that batch), even when the head no longer
    links back to it."""
    s1, _ = _append(log, branch="feature", batch_id=7)
    s2, _ = _append(log, branch="feature", batch_id=8)
    # detach s1 from the branch lineage: rewrite s2 as the branch's sole
    # root, so s1 is retained by nothing (the detached id-bearing case)
    import json as _json
    import os as _os

    p2 = _os.path.join(log.meta_dir, f"v{s2}.json")
    snap2 = _json.loads(open(p2).read())
    snap2["parent_id"] = None
    log._atomic_write(p2, snap2)

    expired, _removed = log.expire(keep_last=1)
    assert expired == [s1]
    # batch id 7 is still in the retained branch head's lineage
    assert 7 in log.committed_batch_ids()
    assert 8 in log.committed_batch_ids()


def _field(name: str, typ: str = "long") -> dict:
    return {"name": name, "type": typ, "nullable": True, "metadata": {}}


def _declared(log: SnapshotLog, branch: str = "main") -> dict[str, str]:
    head = log.head(branch)
    return {f["name"]: f["type"]
            for f in log.table_state(head)["schema_json"]["fields"]}


def _add_column(log: SnapshotLog, name: str, typ: str = "long", *,
                branch: str = "main", retries: int = 3) -> int:
    cname, path = log.new_commit_dir()
    os.makedirs(path)
    return log.commit("append", [cname], branch=branch,
                      new_fields=[_field(name, typ)], retries=retries)


def test_concurrent_evolve_schema_never_loses_a_column(log):
    """Two threads each commit 25 column adds: every commit's schema is
    its head's plus its own adds, recomputed on every retry, so the adds
    compose and none is lost."""
    import threading

    _add_column(log, "base")
    errors: list[BaseException] = []

    def evolver(prefix):
        try:
            for i in range(25):
                _add_column(log, f"{prefix}{i}", "double", retries=50)
        except BaseException as e:  # pragma: no cover
            errors.append(e)

    ts = [threading.Thread(target=evolver, args=(p,)) for p in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    want = {"base"} | {f"a{i}" for i in range(25)} | {
        f"b{i}" for i in range(25)}
    assert want <= set(_declared(log)), sorted(want - set(_declared(log)))


def test_column_add_racing_another_type_is_rejected(log):
    """A column a racing winner committed binds its type: a commit that
    adds the same name with another type raises, and commits nothing."""
    _add_column(log, "q", "double")
    before = log.current_id()
    with pytest.raises(ValueError, match="additive-only"):
        _add_column(log, "q", "long")
    assert log.current_id() == before
    _add_column(log, "q", "double")  # the same type composes
    assert _declared(log)["q"] == "double"


def test_rewrite_keeps_an_append_that_lands_after_its_read(log):
    """The lost-append defect: a rewrite that read ``[a]`` and commits
    while an append ``b`` landed in between must keep ``b`` live, since
    ``b``'s batch id stays recorded as committed and a replay of it is
    skipped."""
    _, a = _append(log, batch_id=0)
    read = log.live_commits()                   # the rewrite reads [a]
    _, b = _append(log, batch_id=1)             # a concurrent append
    name, path = log.new_commit_dir()
    os.makedirs(path)
    log.commit("replace", [name], replaces=read)
    assert log.live_commits() == [b, name]
    assert log.committed_batch_ids() == {0, 1}
    # a second rewrite of the same read set lost the race to the first
    with pytest.raises(CommitConflict, match="already replaced"):
        log.commit("replace", [], replaces=read)


def test_commit_reads_each_vfile_once_per_attempt(log, monkeypatch):
    """Head, id and batch-id lookups and each commit attempt read the
    newest v-file and the heads it names: a number of v-files that does
    not grow with the history."""
    for i in range(300):
        _append(log, batch_id=i)
    _append(log, branch="side", batch_id=1000)
    _append(log)
    assert len(log.snapshots()) == 302
    reads = []
    orig = SnapshotLog.snapshot
    monkeypatch.setattr(SnapshotLog, "snapshot",
                        lambda self, sid: reads.append(sid) or orig(self, sid))

    def count(fn):
        reads.clear()
        fn()
        return len(reads)

    newest = log.current_id()
    # the newest v-file is main's head: one read serves both
    assert count(log.head) == 1
    assert count(log.current_id) == 1
    assert count(lambda: log.head("side")) == 2
    # the newest v-file plus each other head it names
    assert count(log.branches) == 2
    assert count(log.committed_batch_ids) == 2
    assert count(lambda: _append(log)) == 1             # a main commit
    assert count(lambda: _append(log, branch="side")) == 2
    # a branch's first commit: the newest v-file and main's head
    assert count(lambda: _append(log, branch="fresh")) == 2
    assert count(lambda: _append(log, branch="fresh")) == 1
    assert log.committed_batch_ids() == set(range(300)) | {1000}
    assert log.current_id() == newest + 1


def test_table_json_is_written_once(log):
    """Every kind of metadata change commits a v-file; table.json keeps
    the bytes ``init_table`` wrote."""
    path = os.path.join(log.meta_dir, "table.json")
    with open(path, "rb") as f:
        before = f.read()
    first, _ = _append(log, batch_id=0)
    _add_column(log, "q", "double")
    log.evolve_spec([["q", "identity", "q"]])
    _add_column(log, "r", branch="wap")
    log.publish("wap")
    log.commit("rollback", [], rollback_to=first)
    log.expire(keep_last=1)
    log.drop_branch("wap")
    with open(path, "rb") as f:
        assert f.read() == before
    assert set(_declared(log)) == {"q", "r"}
    state = log.table_state(log.head())
    assert state["spec_id"] == 1
    assert state["specs"] == {"0": [], "1": [["q", "identity", "q"]]}


def test_branch_schema_lives_on_the_branch_until_publish(log):
    """A staged column add binds on its branch only; publish declares it
    on main, and a dropped branch leaves no declared column."""
    _append(log)
    _add_column(log, "r", "double", branch="wap")
    _add_column(log, "s", branch="gone")
    assert "r" in _declared(log, "wap")
    assert "r" not in _declared(log)
    log.drop_branch("gone")
    assert "s" not in _declared(log)
    log.publish("wap")
    assert _declared(log)["r"] == "double"
    with pytest.raises(ValueError, match="additive-only"):
        _add_column(log, "r", "long")


def test_branch_forked_before_spec_evolution_publishes(log):
    """A spec change is a metadata-only main commit: a branch forked
    before it still fast-forwards, and the publish snapshot keeps main's
    new spec with the branch's schema."""
    _append(log, batch_id=0)
    _add_column(log, "r", branch="wap")
    new_id = log.evolve_spec([["r", "bucket[2]", "r_bucket"]])
    assert log.snapshot(log.current_id())["operation"] == "evolve"
    pid = log.publish("wap")
    assert log.current_id() == pid
    assert log.live_commits() == log.live_commits(branch="wap")
    state = log.table_state(log.head())
    assert state["spec_id"] == new_id
    assert "r" in {f["name"] for f in state["schema_json"]["fields"]}
    # a DATA commit on main after the fork still blocks the fast-forward
    _add_column(log, "t", branch="wap2")
    log.evolve_spec([])
    _append(log)
    with pytest.raises(CommitConflict):
        log.publish("wap2")


# -- branch heads and batch-id lineage in every v-file ---------------------


def _vfile_bytes(log: SnapshotLog) -> dict[str, bytes]:
    out = {}
    for n in os.listdir(log.meta_dir):
        if n.startswith("v") and n.endswith(".json"):
            with open(os.path.join(log.meta_dir, n), "rb") as f:
                out[n] = f.read()
    return out


def test_expire_writes_no_vfile_and_keeps_every_batch_id(log):
    for i in range(5):
        _append(log, batch_id=i)
    _append(log, branch="wap", batch_id=50)
    log.publish("wap")
    log.drop_branch("wap")
    log.commit("replace", [], overwrite=True)
    before = _vfile_bytes(log)
    expired, _ = log.expire(keep_last=1)
    assert expired
    after = _vfile_bytes(log)
    assert set(after) < set(before)
    assert all(after[n] == before[n] for n in after)
    assert log.committed_batch_ids() == set(range(5)) | {50}


def test_rollback_keeps_the_heads_batch_ids(log):
    first, _ = _append(log, batch_id=0)
    _append(log, batch_id=1)
    _append(log, batch_id=2)
    sid = log.commit("rollback", [], rollback_to=first)
    assert log.live_commits() == log.live_commits(first)
    assert log.snapshot(sid)["batch_ids"] == [[0, 2]]
    log.expire(keep_last=1)
    assert log.committed_batch_ids() == {0, 1, 2}


def test_publish_carries_the_branch_ids_to_main(log):
    _append(log, batch_id=0)
    _append(log, branch="wap", batch_id=7)
    _append(log, branch="wap", batch_id=8)
    pid = log.publish("wap")
    assert log.snapshot(pid)["batch_ids"] == [[0, 0], [7, 8]]
    assert log.head()["batch_ids"] == [[0, 0], [7, 8]]


def test_dropping_an_unpublished_branch_drops_its_ids(log):
    _append(log, batch_id=0)
    _append(log, branch="wap", batch_id=7)
    assert log.committed_batch_ids() == {0, 7}
    log.drop_branch("wap")
    assert log.committed_batch_ids() == {0}


def test_dropping_the_branch_holding_the_newest_vfile(log):
    _append(log)
    m2, _ = _append(log)
    b, _ = _append(log, branch="wap", batch_id=3)
    log.drop_branch("wap")
    assert log.current_id() == m2
    assert log.head("wap")["snapshot_id"] == m2
    assert log.branches() == {"main": m2}
    sid, _ = _append(log)
    assert sid == b + 1
    assert log.snapshot(sid)["parent_id"] == m2


def test_branch_name_reused_after_a_drop_forks_from_main(log):
    _append(log, batch_id=0)
    _, staged = _append(log, branch="wap", batch_id=5)
    tagged, _ = _append(log, branch="wap", batch_id=6)
    log.set_tag("keep", tagged)       # re-homed detached by the drop
    log.drop_branch("wap")
    main_head = log.current_id()
    sid, name = _append(log, branch="wap", batch_id=9)
    assert log.snapshot(sid)["parent_id"] == main_head
    assert log.live_commits(branch="wap") == log.live_commits() + [name]
    assert staged not in log.live_commits(branch="wap")
    assert log.committed_batch_ids() == {0, 9}


def test_epochs_committed_in_order_store_one_range(log):
    name, path = log.new_commit_dir()
    os.makedirs(path)
    for epoch in range(1000):
        log.commit("append", [], batch_id=epoch)
    assert log.head()["batch_ids"] == [[0, 999]]
    assert log.committed_batch_ids() == set(range(1000))


def test_vfile_without_heads_raises(log):
    import json as _json

    _append(log)
    path = os.path.join(log.meta_dir, f"v{log.current_id()}.json")
    with open(path) as f:
        snap = _json.load(f)
    del snap["heads"]
    log._atomic_write(path, snap)
    for fn in (log.head, log.current_id, log.committed_batch_ids,
               lambda: _append(log)):
        with pytest.raises(ValueError, match="layout"):
            fn()
