"""Snapshot/metadata log for the parquet-warehouse backend — a miniature
Iceberg table format, so the fallback proves the SAME contract the real
runtime provides: atomic commits, optimistic retry, snapshot isolation,
time travel, rollback, and streaming batch-id dedup (exactly-once).

Reference parity: the reference's optimistic commit loop retries
``table.append`` on ``CommitFailedException`` (connector.py:242-257) and
*declares* a ``last_committed_batch`` exactly-once dedup it never updates
(connector.py:137). Here both are real: commits race on an atomic
version-file create and retry against the refreshed head; committed batch
ids are recorded in snapshot metadata and replayed batches are skipped.

Design (Iceberg's HadoopTableOperations in miniature):
- data files live under ``data/_c=<commit>/...`` — the commit id is a
  partition-style directory so Spark's file index parses it uniformly
  (``basePath=data`` → `_c` surfaces as a droppable partition column);
- each snapshot is ``metadata/v<N>.json`` holding the FULL live commit
  list (real Iceberg uses manifest lists for O(1) snapshot metadata; the
  cumulative list is the honest small-scale stand-in, noted here so the
  trade-off is explicit), the table state its branch has as of N
  (``schema_json``, ``spec_id``/``partition_spec`` and ``specs``, every
  spec id issued so far), ``heads`` (branch -> head snapshot id as of N)
  and ``batch_ids`` (the streaming batch ids committed in its lineage, as
  sorted inclusive ``[lo, hi]`` ranges). Iceberg keeps schemas, specs and
  refs in the one metadata file it swaps atomically, for the same reason:
  the newest v-file and the heads it names answer every head, branch and
  batch-id lookup, whatever the length of the history;
- committing is "write tmp, hard-link to v<N+1>.json", where N is the
  highest id ever issued — ``os.link`` is atomic-exclusive, so two
  writers racing produce one winner and one ``FileExistsError`` → the
  loser rebuilds against the new newest v-file and retries (snapshot
  isolation: readers holding an older N never see half a commit). That
  link is the ONLY commit point: a column add, a spec change, a publish
  and the moved branch head land in the same file as the live list they
  describe, so no crash can leave them apart;
- a head whose v-file is gone (a dropped branch's tombstone) or no longer
  names its branch (a tagged snapshot re-homed detached by
  ``drop_branch``) is absent, so dropping a branch writes no v-file;
- ``metadata/table.json`` is written once, at creation: name, sort order,
  properties, and the schema and spec a table has before its first
  commit. It is never rewritten.
"""

from __future__ import annotations

import json
import os
import time
import uuid

#: never orphan-delete a commit dir younger than this — it may be a
#: concurrent writer's saved-but-not-yet-committed data (same role as
#: Iceberg remove_orphan_files' older_than)
_ORPHAN_GRACE_S = 3600.0

#: the table state every v-file carries for its branch
_STATE_KEYS = ("schema_json", "spec_id", "partition_spec", "specs")

#: field-JSON keys that do not change a column's type
_NOT_TYPE = frozenset({"nullable", "containsNull", "valueContainsNull",
                       "metadata"})


class CommitConflict(RuntimeError):
    """Raised when the optimistic commit loop exhausts its retries, or a
    rewrite finds a dir it replaces already replaced by another commit."""


def _type_key(t):
    """A field-JSON type with nullability and metadata stripped: two
    columns of one name conflict only when these differ."""
    if isinstance(t, dict):
        return {k: _type_key(v) for k, v in t.items() if k not in _NOT_TYPE}
    if isinstance(t, list):
        return [_type_key(v) for v in t]
    return t


def _add_fields(schema: dict, new_fields: list[dict]) -> dict:
    """``schema`` plus the ``new_fields`` it lacks, appended in order.
    A name it already holds with another type raises ``ValueError``:
    evolution is additive-only, so a racing writer that committed the
    same column first decides its type."""
    fields = list(schema.get("fields", []))
    have = {f["name"]: f for f in fields}
    for f in new_fields:
        cur = have.get(f["name"])
        if cur is None:
            fields.append(f)
            have[f["name"]] = f
        elif _type_key(cur["type"]) != _type_key(f["type"]):
            raise ValueError(
                f"schema evolution is additive-only: column {f['name']!r} "
                f"was committed as {json.dumps(cur['type'])} but this "
                f"commit writes {json.dumps(f['type'])}"
            )
    return {**schema, "fields": fields}


def _merge_ranges(*range_lists: list[list[int]]) -> list[list[int]]:
    """The union of inclusive ``[lo, hi]`` batch-id ranges, sorted, with
    overlapping and adjacent ranges joined: batch ids committed in order
    stay one range however many there are."""
    out: list[list[int]] = []
    for lo, hi in sorted(r for rs in range_lists for r in rs):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


class SnapshotLog:
    """Version-file snapshot log rooted at ``<table>/metadata``."""

    def __init__(self, table_path: str) -> None:
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "metadata")
        self.data_dir = os.path.join(table_path, "data")

    # -- identity ----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.meta_dir, "table.json"))

    def init_table(self, table_meta: dict) -> None:
        """Create the table skeleton (idempotent): data/ + metadata/ and the
        static table descriptor (name, sort order, properties, and the
        schema and spec of the table before its first commit). This is
        the only writer of ``table.json``."""
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        path = os.path.join(self.meta_dir, "table.json")
        if not os.path.exists(path):
            self._atomic_write(path, table_meta)

    def table_meta(self) -> dict:
        with open(os.path.join(self.meta_dir, "table.json")) as f:
            return json.load(f)

    def table_state(self, snap: dict | None = None) -> dict:
        """Schema and partition spec as of ``snap`` (None: the table
        before its first commit, from ``table.json``): ``schema_json``,
        ``spec_id``, ``partition_spec`` and ``specs`` (spec id as a
        string -> spec). A snapshot carries its own state, so this opens
        no file for one."""
        if snap is not None:
            return {k: snap[k] for k in _STATE_KEYS}
        meta = self.table_meta()
        spec = meta.get("partition_spec") or []
        return {"schema_json": (meta.get("schema_json")
                                or {"type": "struct", "fields": []}),
                "spec_id": 0, "partition_spec": spec, "specs": {"0": spec}}

    # -- partition-spec evolution ------------------------------------------

    def evolve_spec(self, new_spec: list[list], retries: int = 3) -> int:
        """Install a NEW partition spec (Iceberg partition evolution) as a
        metadata-only main commit: operation ``evolve``, main's live list
        and batch ids unchanged, no batch id, the next spec id recorded in
        ``specs``. Only commits written AFTER it use the new layout —
        existing data files are never rewritten, exactly the Iceberg
        contract. A branch keeps the spec it forked with until it
        publishes. Returns the new spec id."""
        spec = [list(f) for f in new_spec]

        def build(tip: tuple) -> dict:
            head = self._ref(tip, "main")
            state = self.table_state(head)
            new_id = max(map(int, state["specs"])) + 1
            return {
                "parent_id": None if head is None else head["snapshot_id"],
                "operation": "evolve",
                "added": [],
                "live": [] if head is None else list(head["live"]),
                "batch_id": None,
                "batch_ids": [] if head is None else head["batch_ids"],
                "schema_json": state["schema_json"],
                "spec_id": new_id,
                "partition_spec": spec,
                "specs": {**state["specs"], str(new_id): spec},
            }

        return self._create_next(build, retries, "evolve")["spec_id"]

    # -- snapshot access ---------------------------------------------------

    def _listing(self) -> tuple[int, list[int]]:
        """(highest snapshot id EVER ISSUED, ids of the v-files that exist,
        ascending), from one ``listdir``. The first is the version-race
        counter (ids are globally unique, branches share one sequence),
        and it counts ``.dropped`` tombstones too (see
        ``_unlink_snapshot``): the counter must be monotone over deleted
        ids, or a post-drop commit would reuse one — aliasing two table
        states under one ``VERSION AS OF`` handle."""
        try:
            names = os.listdir(self.meta_dir)
        except FileNotFoundError:
            return 0, []
        top, present = 0, []
        for n in names:
            core, _, ext = n[1:].partition(".")
            if not (n.startswith("v") and core.isdigit()
                    and ext in ("json", "json.dropped")):
                continue
            top = max(top, int(core))
            if ext == "json":
                present.append(int(core))
        return top, sorted(present)

    def _tip(self) -> tuple[int, dict | None, dict[str, int]]:
        """(highest id ever issued, the newest existing v-file, its
        ``heads`` restricted to v-files that exist): one ``listdir`` and
        one v-file read, the starting point of every head, branch and
        batch-id lookup and of every commit attempt. A newest v-file
        without ``heads`` is of a layout this log does not read."""
        while True:
            top, present = self._listing()
            if not present:
                return top, None, {}
            newest = self._maybe_snapshot(present[-1])
            if newest is None:
                continue  # expired or dropped since the listing
            if "heads" not in newest:
                raise ValueError(
                    f"{self.meta_dir}/v{present[-1]}.json has no 'heads': it "
                    "is of a v-file layout without branch heads and "
                    "batch-id ranges, which this log does not read"
                )
            have = set(present)
            return top, newest, {b: i for b, i in newest["heads"].items()
                                 if i in have}

    def _ref(self, tip: tuple, branch: str) -> dict | None:
        """``branch``'s head snapshot as of ``tip`` (see ``_tip``); None
        when the branch has no commits, its head's v-file is gone, or
        that v-file no longer names the branch (re-homed detached)."""
        _, newest, heads = tip
        sid = heads.get(branch)
        if sid is None:
            return None
        snap = (newest if sid == newest["snapshot_id"]
                else self._maybe_snapshot(sid))
        if snap is None or snap.get("branch", "main") != branch:
            return None
        return snap

    def _refs(self, tip: tuple) -> dict[str, dict]:
        """Branch name -> head snapshot, for every head ``tip`` names
        that ``_ref`` resolves."""
        refs = {b: self._ref(tip, b) for b in tip[2]}
        return {b: s for b, s in refs.items() if s is not None}

    def _base(self, tip: tuple, branch: str) -> dict | None:
        """The snapshot a commit on ``branch`` builds on: the branch head,
        or main's head while the branch has no commits (fork-on-first-
        write)."""
        return self._ref(tip, branch) or self._ref(tip, "main")

    def head(self, branch: str = "main") -> dict | None:
        """The snapshot the next commit on ``branch`` builds on: the
        branch's head, or main's head while the branch has no commits
        (Iceberg's fork-on-first-write under ``spark.wap.branch``); None
        for a table with no commits. Its ``live`` list and its
        ``table_state`` describe one table version, read from one file.

        The newest v-file names every branch head (``heads``), as
        Iceberg's table-metadata file holds its refs, so this reads that
        file and at most two heads it names, at any history length.
        """
        return self._base(self._tip(), branch)

    def current_id(self, branch: str = "main") -> int:
        """Head snapshot id of ``branch`` (default main); 0 = no commits."""
        s = self._ref(self._tip(), branch)
        return 0 if s is None else s["snapshot_id"]

    def snapshot(self, snapshot_id: int) -> dict:
        try:
            with open(os.path.join(self.meta_dir, f"v{snapshot_id}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise LookupError(
                f"snapshot {snapshot_id} not found in {self.meta_dir} "
                "(expired or never committed)"
            ) from None

    def _maybe_snapshot(self, snapshot_id: int) -> dict | None:
        """``snapshot`` that returns None for expired/missing ids."""
        try:
            return self.snapshot(snapshot_id)
        except LookupError:
            return None

    def snapshots(self) -> list[dict]:
        """All retained snapshots, ascending — the ``<table>.snapshots``
        metadata table of the iceberg backend. Ids expired by ``expire``
        are simply absent (numbering is never rewritten)."""
        snaps = (self._maybe_snapshot(i) for i in self._listing()[1])
        return [s for s in snaps if s is not None]

    def live_commits(self, snapshot_id: int | None = None,
                     branch: str = "main") -> list[str]:
        """Commit dir names visible at ``snapshot_id`` (default: head of
        ``branch``)."""
        if snapshot_id is None:
            s = self._ref(self._tip(), branch)
            return [] if s is None else s["live"]
        return self.snapshot(snapshot_id)["live"] if snapshot_id else []

    def commit_paths(self, snapshot_id: int | None = None,
                     branch: str = "main", *,
                     snap: dict | None = None) -> list[str]:
        """Absolute live commit dirs at ``snapshot_id`` (default: head of
        ``branch``); ``snap`` hands in a snapshot the caller already
        read, so it is not opened again."""
        live = (snap["live"] if snap is not None
                else self.live_commits(snapshot_id, branch))
        return [os.path.join(self.data_dir, c) for c in live]

    # -- named refs (tags) -------------------------------------------------

    def refs(self) -> dict[str, int]:
        """Named immutable refs (Iceberg tags): tag name -> snapshot id."""
        try:
            with open(os.path.join(self.meta_dir, "refs.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def set_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: head). Tags pin snapshots across
        ``expire`` — same retention rule as Iceberg refs. Tag writes are
        last-wins (they never move data, only name it), unlike the
        version-race-protected data commits."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        self.snapshot(sid)  # validate it exists / not expired
        refs = self.refs()
        refs[name] = sid
        self._atomic_write(os.path.join(self.meta_dir, "refs.json"), refs)
        return sid

    def drop_tag(self, name: str) -> None:
        refs = self.refs()
        if name not in refs:
            raise LookupError(f"tag {name!r} does not exist")
        del refs[name]
        self._atomic_write(os.path.join(self.meta_dir, "refs.json"), refs)

    def resolve_tag(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise LookupError(
                f"tag {name!r} does not exist (have: {sorted(refs)})"
            )
        return refs[name]

    def committed_batch_ids(self) -> set[int]:
        """Batch ids recorded by streaming commits — the replay-dedup set:
        the ``batch_ids`` lineage of every branch head. Each commit
        carries its base's ids plus its own, so expiring the snapshot a
        batch committed in keeps its id, and ``publish`` carries a
        branch's ids to main, so they survive ``drop_branch``. A dropped,
        unpublished branch's ids go with it."""
        out: set[int] = set()
        for s in self._refs(self._tip()).values():
            for lo, hi in s["batch_ids"]:
                out.update(range(lo, hi + 1))
        return out

    # -- commit protocol ---------------------------------------------------

    def new_commit_dir(self) -> tuple[str, str]:
        """Reserve a fresh commit directory (name, absolute path). The
        ``_c=`` prefix makes it a partition-style path component.

        The name LEADS WITH ``g`` (not a hex digit, not an exponent
        marker) so it can never parse as a number: Spark's partition-dir
        parser evaluates its decimal ``Try`` EAGERLY even with
        ``partitionColumnTypeInference.enabled=false`` (upstream bug, r11
        find), so a pure-hex name that happens to match
        ``<digits>e<digits>`` — probability ~1/1100 per random 16-hex
        name — made ``new JBigDecimal("670286e438614392")`` materialize
        10^438614392 via ``BigInteger.pow``: an hours-long driver spin on
        EVERY read of the table (observed live: a suite run wedged 25
        minutes inside ``PartitioningUtils.inferPartitionColumnValue``).
        """
        name = f"_c=g{uuid.uuid4().hex[:16]}"
        return name, os.path.join(self.data_dir, name)

    def commit(
        self,
        operation: str,
        added: list[str],
        *,
        overwrite: bool = False,
        replaces: list[str] | None = None,
        rollback_to: int | None = None,
        batch_id: int | None = None,
        branch: str = "main",
        new_fields: list[dict] | None = None,
        retries: int = 3,
    ) -> int:
        """Commit a snapshot; returns its id.

        ``operation``: append | overwrite | delete | replace | rollback
        (audit field). The live set of each attempt is computed against
        the head it reads:
        - default: head live + ``added`` (appends compose);
        - ``replaces``: head live − ``replaces`` + ``added`` — a rewrite
          (merge, delete, partition overwrite, compaction) drops exactly
          the dirs it read, so an append that lands meanwhile survives.
          If a replaced dir is no longer live, another rewrite took it
          first, and this raises ``CommitConflict`` (Iceberg's validation
          for replace and overwrite snapshots);
        - ``overwrite=True``: ``added`` alone (latest-wins: the contract
          of a full-table overwrite);
        - ``rollback_to``: the live set of that earlier snapshot.

        ``branch`` commits onto a named mutable ref (forked from main's
        head on its first commit) — main is just the default branch.
        Snapshot ids are globally unique across branches (one version
        sequence), so two writers on different branches still serialize
        through the same atomic v-file create.

        The snapshot carries its branch's table state: the head's, with
        ``new_fields`` (column JSON) appended to the schema — so a column
        add lands in the same ``os.link`` as the data that needs it, and
        two concurrent adds of different columns compose through the
        retry. A ``new_fields`` column that a racing winner committed
        under another type raises ``ValueError``. Its ``batch_ids`` are
        the head's plus ``batch_id`` (a rollback keeps the head's: the
        batches it undoes stay committed).

        Each attempt reads the newest v-file and the head it names
        (``_tip``), not the history.
        """

        def build(tip: tuple) -> dict:
            head = self._base(tip, branch)
            head_live = [] if head is None else head["live"]
            if rollback_to is not None:
                live = list(self.snapshot(rollback_to)["live"])
            elif overwrite:
                live = list(added)
            elif replaces is not None:
                gone = set(replaces).difference(head_live)
                if gone:
                    raise CommitConflict(
                        f"{operation} replaces {sorted(gone)}, which a "
                        "concurrent commit already replaced"
                    )
                drop = set(replaces)
                live = [c for c in head_live if c not in drop] + added
            else:
                live = head_live + list(added)
            state = self.table_state(head)
            if new_fields:
                state["schema_json"] = _add_fields(
                    state["schema_json"], new_fields
                )
            return {
                "parent_id": None if head is None else head["snapshot_id"],
                "operation": operation,
                "added": list(added),
                "live": live,
                "batch_id": batch_id,
                "batch_ids": _merge_ranges(
                    [] if head is None else head["batch_ids"],
                    [] if batch_id is None else [[batch_id, batch_id]],
                ),
                **state,
            }

        return self._create_next(build, retries, operation,
                                 branch)["snapshot_id"]

    def _create_next(self, build, retries: int, what: str,
                     branch: str = "main") -> dict:
        """The optimistic commit loop: read the tip (``_tip``), ``build``
        the next snapshot of ``branch`` from it, and create
        ``v<top+1>.json`` with ``branch``'s head moved to it; on losing
        that race, re-read and rebuild. Returns the created snapshot."""
        for _attempt in range(retries + 1):
            tip = self._tip()
            sid = tip[0] + 1
            snap = {"snapshot_id": sid,
                    "timestamp_ms": int(time.time() * 1000),
                    **build(tip),
                    "heads": {**tip[2], branch: sid}}
            if branch != "main":
                snap["branch"] = branch
            try:
                self._atomic_create(
                    os.path.join(self.meta_dir, f"v{sid}.json"), snap
                )
                return snap
            except FileExistsError:
                continue  # lost the race — rebuild against the new head
        raise CommitConflict(
            f"commit of {what} lost the version race {retries + 1} times"
        )

    # -- branches (write-audit-publish) ------------------------------------

    def branches(self) -> dict[str, int]:
        """Branch name -> head snapshot id, for every branch with at least
        one commit (main included when non-empty)."""
        return {b: s["snapshot_id"]
                for b, s in self._refs(self._tip()).items()}

    def ancestors(self, snapshot_id: int) -> list[int]:
        """Snapshot lineage from ``snapshot_id`` back to the root (parent
        chain), inclusive. The walk stops at an expired parent instead of
        raising — retention may legitimately punch holes below a retained
        snapshot, and lineage above the hole is still meaningful."""
        chain = []
        sid: int | None = snapshot_id
        while sid:
            chain.append(sid)
            try:
                sid = self.snapshot(sid).get("parent_id")
            except LookupError:
                break
        return chain

    def publish(self, branch: str, retries: int = 3) -> int:
        """Fast-forward main to ``branch``'s head (Iceberg's
        ``fast_forward`` procedure — the publish step of write-audit-
        publish). Requires main's head to be an ancestor of the branch
        head — OR a previous publish of this same branch (Iceberg's
        fast_forward leaves main and the branch pointing at the same
        snapshot, so stage→publish→stage-more→publish is the normal
        steady-state loop, not a conflict). Main's metadata-only
        ``evolve`` snapshots are skipped in that check: they change no
        data, so a branch forked before a spec change still
        fast-forwards. If main advanced through any OTHER route since the
        branch forked, publishing would silently drop those commits, so
        raise instead (rebase by re-staging). The check walks the
        branch's lineage.

        The publish snapshot is one v-file create, like any commit. It
        records ``published_head`` (the branch head it fast-forwarded —
        what makes re-publish recognizable), and its ``batch_ids`` are
        main's plus the branch's, so exactly-once dedup survives the
        branch being dropped. It carries the branch head's schema, so the
        staged column adds are declared on main from that snapshot on,
        and main head's partition spec and ``specs``, so a spec evolved
        on main while the branch was staged stays in force."""

        def build(tip: tuple) -> dict:
            b = self._ref(tip, branch)
            if b is None:
                raise LookupError(f"branch {branch!r} has no commits")
            # an expired parent ends the lineage
            b_chain = self.ancestors(b["snapshot_id"])
            m = self._ref(tip, "main")
            mid, ms = (0, None) if m is None else (m["snapshot_id"], m)
            while (mid and mid not in b_chain and ms is not None
                   and ms["operation"] == "evolve"):
                mid = ms.get("parent_id") or 0
                ms = self._maybe_snapshot(mid) if mid else None
            if mid and mid not in b_chain and not (
                    ms is not None and ms["operation"] == "publish"
                    and ms.get("source_branch") == branch
                    and ms.get("published_head") in b_chain):
                raise CommitConflict(
                    f"cannot fast-forward: main advanced to {mid} after "
                    f"branch {branch!r} forked (not an ancestor of "
                    f"{b['snapshot_id']})"
                )
            return {
                "parent_id": None if m is None else m["snapshot_id"],
                "operation": "publish",
                "added": [],
                "live": list(b["live"]),
                "batch_id": None,
                "batch_ids": _merge_ranges(
                    [] if m is None else m["batch_ids"], b["batch_ids"]
                ),
                "source_branch": branch,
                "published_head": b["snapshot_id"],
                **self.table_state(m),
                "schema_json": b["schema_json"],
            }

        return self._create_next(build, retries, "publish")["snapshot_id"]

    def drop_branch(self, branch: str) -> list[int]:
        """Delete a branch: unlink its snapshot files and remove commit
        dirs no remaining snapshot references (the audit-failed arm of
        write-audit-publish — staged data vanishes, main is untouched).
        Published data survives because the publish snapshot on main
        carries the live list itself. The branch's staged column adds
        and batch ids live only on its own v-files, so they go with it:
        dropping a branch leaves no declared column behind, and an
        unpublished batch of it may be written again.

        Tags pin snapshots (the same rule ``expire`` honors): a TAGGED
        branch snapshot is not deleted — it is re-homed as a detached
        snapshot (its ``branch`` field dropped) so the tag keeps
        resolving to readable data while the branch itself ceases to
        exist. Returns the unlinked snapshot ids."""
        if branch == "main":
            raise ValueError("cannot drop main")
        tagged = set(self.refs().values())
        dropped, rehomed = [], []
        dropped_live: set[str] = set()
        found = False
        for s in self.snapshots():
            if s.get("branch", "main") != branch:
                continue
            found = True
            sid = s["snapshot_id"]
            dropped_live.update(s["live"])
            if sid in tagged:
                detached = dict(s)
                # branch=None: detached — NOT main (an absent field means
                # main, and a tagged staged snapshot must never advance
                # main's head when its branch goes away)
                detached["branch"] = None
                detached["detached_from_branch"] = branch
                self._atomic_write(
                    os.path.join(self.meta_dir, f"v{sid}.json"), detached
                )
                rehomed.append(sid)
            else:
                self._unlink_snapshot(
                    os.path.join(self.meta_dir, f"v{sid}.json")
                )
                dropped.append(sid)
        if not found:
            raise LookupError(f"branch {branch!r} does not exist")
        # orphan cleanup: every surviving snapshot (main, other branches,
        # re-homed tagged snapshots) keeps its data; dirs only the
        # just-dropped snapshots referenced are deletable immediately
        referenced: set[str] = set()
        for s in self.snapshots():
            referenced.update(s["live"])
        self._remove_orphan_dirs(referenced, deletable=set(dropped_live))
        return dropped

    def _remove_orphan_dirs(self, keep: set[str], deletable: set[str],
                            grace_s: float = _ORPHAN_GRACE_S) -> list[str]:
        """Delete ``_c=`` dirs not in ``keep``. Dirs in ``deletable``
        (referenced by a snapshot that just got expired/dropped — their
        writer demonstrably finished) go immediately; a dir referenced by
        NO snapshot at all may be a concurrent writer's in-flight commit
        (_write_commit saves data BEFORE creating the snapshot file), so
        those only go once older than ``grace_s`` — deleting one early
        would let the writer's commit succeed while recording a dir that
        no longer exists, failing every later read of that snapshot.
        Iceberg's remove_orphan_files carries the same ``older_than``
        guard for the same race.
        """
        import shutil
        import time as _time

        now = _time.time()
        removed = []
        try:
            dirs = os.listdir(self.data_dir)
        except FileNotFoundError:
            return removed
        for d in dirs:
            if not d.startswith("_c=") or d in keep:
                continue
            path = os.path.join(self.data_dir, d)
            if d not in deletable:
                try:
                    if now - os.path.getmtime(path) < grace_s:
                        continue  # possibly an in-flight commit — keep
                except OSError:
                    continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(d)
        return removed

    def expire(self, keep_last: int) -> tuple[list[int], list[str]]:
        """Drop all but the newest ``keep_last`` snapshots and delete every
        commit directory no retained snapshot references (Iceberg's
        expire_snapshots + orphan-file cleanup in one step, which is safe
        here because this log is the only writer of ``data/``).

        Returns (expired snapshot ids, removed commit dir names). Never
        touches a dir a retained snapshot can still read — time travel
        within the retention window keeps working. Retention is
        REF-AWARE, the same rule as Iceberg's expire_snapshots:
        - the newest ``keep_last`` snapshots of MAIN's own history
          (selected from main's snapshot list, not an id window — ids
          interleave across branches);
        - every snapshot reachable from any branch head (the branch's
          own commits AND its main-lineage ancestors, so a later
          ``publish`` still finds its fork point);
        - every TAGGED snapshot (a release tag keeps its data alive
          until the tag is dropped), including detached ones.

        Expiry writes no v-file: every branch head is retained and
        carries its lineage's batch ids and its table state, so the
        snapshots that go take nothing the log still needs. Only
        tombstone renames and dir removals happen, so a concurrent commit
        is unaffected.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        main_ids = sorted(
            s["snapshot_id"] for s in snaps if s.get("branch", "main") == "main"
        )
        retained_ids = set(main_ids[-keep_last:]) | set(self.refs().values())
        for b, b_head in self.branches().items():
            if b != "main":
                retained_ids.update(self.ancestors(b_head))
        retained_live: set[str] = set()
        expired = []
        expired_live: set[str] = set()
        for s in snaps:
            sid = s["snapshot_id"]
            if sid in retained_ids:
                retained_live.update(s["live"])
                continue
            path = os.path.join(self.meta_dir, f"v{sid}.json")
            if os.path.exists(path):
                self._unlink_snapshot(path)
                expired.append(sid)
                expired_live.update(s["live"])
        removed = self._remove_orphan_dirs(
            retained_live, deletable=expired_live
        )
        return expired, removed

    # -- file primitives ---------------------------------------------------

    def _unlink_snapshot(self, path: str) -> None:
        """Remove a snapshot file but leave a ``.dropped`` tombstone (an
        atomic rename), so ``_listing`` never re-issues its id.
        Tombstones are tiny, invisible to every snapshot reader (which
        look up exact ``v{sid}.json`` names), and live as long as the
        table's metadata directory."""
        os.replace(path, f"{path}.dropped")

    def _atomic_write(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
        os.replace(tmp, path)

    def _atomic_create(self, path: str, obj: dict) -> None:
        """Create ``path`` exclusively: hard-link a fully-written temp file
        into place, so a reader never observes a partial snapshot and a
        racing writer gets FileExistsError (the commit conflict signal)."""
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f, separators=(",", ":"))
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
