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
  trade-off is explicit);
- the head is ``max(N)``; committing is "write tmp, hard-link to
  v<head+1>.json" — ``os.link`` is atomic-exclusive, so two writers
  racing produce one winner and one ``FileExistsError`` → the loser
  recomputes its live set against the new head and retries (snapshot
  isolation: readers holding an older N never see half a commit).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

#: never orphan-delete a commit dir younger than this — it may be a
#: concurrent writer's saved-but-not-yet-committed data (same role as
#: Iceberg remove_orphan_files' older_than)
_ORPHAN_GRACE_S = 3600.0

#: heal-gate flag files — the STRICT pattern matters: _atomic_write's
#: in-flight temp files ("pending_fold.7.json.tmp.<hex>") share the
#: prefix, and a heal that swept one would crash the raiser's os.replace
#: mid-commit (r11 second-review find)
_FOLD_FLAG_RE = re.compile(r"^pending_fold\.(\d+)\.json$")


class CommitConflict(RuntimeError):
    """Raised when the optimistic commit loop exhausts its retries."""


class SnapshotLog:
    """Version-file snapshot log rooted at ``<table>/metadata``."""

    def __init__(self, table_path: str) -> None:
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "metadata")
        self.data_dir = os.path.join(table_path, "data")
        #: heal-gate flag files live in their own subdir so the per-write
        #: gate check lists O(#flags) entries — almost always zero — not
        #: the O(history) v-file population (r11 second-review find)
        self.folds_dir = os.path.join(self.meta_dir, "pending_folds")

    @contextlib.contextmanager
    def _meta_lock(self, timeout_s: float = 15.0, stale_s: float = 10.0):
        """Advisory cross-process lock serializing table.json
        read-modify-writes (``evolve_schema``, ``evolve_spec``, the
        legacy flag clear). Without it two concurrent evolutions could
        interleave their RMWs and the loser's column add was silently
        erased — and since each writer retires its own heal-gate flag
        after its evolve returns, the erased fold lost its gate too,
        reopening the r08 type-change hole (r11 second-review find).
        O_EXCL-create is the acquire; a crashed holder's lock goes stale
        after ``stale_s`` and is stolen (the steal re-races through
        O_EXCL, so two stealers still serialize). ``timeout_s`` >
        ``stale_s`` deliberately: a waiter arriving just after a kill
        outlives the staleness window and steals instead of erroring, so
        a crashed holder costs at most ``stale_s`` of blocking, never a
        CommitConflict storm.

        Identity discipline (r12 ADVICE): every acquirer writes a
        pid+uuid token into its lock file; release unlinks only if the
        file still holds the releaser's own token, so a slow-but-alive
        holder whose lock was stolen can never delete its successor's
        lock.

        Steal protocol (r12 second review — the earlier rename-AWAY
        steal let a waiter acting on a pre-computed stale flag rename a
        LIVE successor's lock, and while the path sat absent a third
        O_EXCL acquirer could slip in before the no-clobber restore:
        two holders in the critical section, the lost-update class this
        lock exists to close). Stealers now (1) serialize on an O_EXCL
        steal-mutex beside the lock, (2) RE-VERIFY the lock is still
        stale under that mutex — a pre-computed flag is never acted on,
        so a live successor's lock is never touched — and (3) REPLACE
        the stale lock in place: write their own token to a temp name
        and ``os.rename`` it onto the path. The path never transitions
        through absent during a steal, so no O_EXCL acquirer can slip
        into the window; the mutex itself goes stale after ``stale_s``
        (a stealer's hold is ms-scale) so a stealer crash cannot wedge
        stealing. The remaining overlap requires a holder ALIVE past
        ``stale_s`` (1000x the ms-scale RMW) releasing in the sub-ms
        between the mutex-held re-stat and the rename, with a third
        acquirer landing in that same window — staleness is the
        explicit backstop for holders that outlive it."""
        path = os.path.join(self.meta_dir, "table.json.lock")
        mutex = f"{path}.steal"
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.time() + timeout_s
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                break
            except FileExistsError:
                try:
                    stale = (
                        time.time() - os.path.getmtime(path) > stale_s
                    )
                except OSError:
                    stale = False  # released between checks — re-race
                stole = False
                if stale:
                    try:
                        mfd = os.open(
                            mutex, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                        )
                    except FileExistsError:
                        # another stealer is active; clear THEIR mutex
                        # only if it outlived the staleness window (a
                        # stealer crash — live steals are ms-scale)
                        with contextlib.suppress(OSError):
                            if (
                                time.time() - os.path.getmtime(mutex)
                                > stale_s
                            ):
                                os.unlink(mutex)
                    except OSError:  # pragma: no cover
                        pass  # mutex dir unwritable — fall to deadline
                    else:
                        os.close(mfd)
                        try:
                            # re-verify UNDER the mutex: the lock must
                            # still be stale NOW (never act on the
                            # pre-computed flag — the old TOCTOU)
                            try:
                                still = (
                                    time.time() - os.path.getmtime(path)
                                    > stale_s
                                )
                            except OSError:
                                still = False  # released — re-race
                            if still:
                                tmp = f"{path}.claim.{uuid.uuid4().hex}"
                                fd = os.open(
                                    tmp,
                                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                                )
                                try:
                                    os.write(fd, token.encode())
                                finally:
                                    os.close(fd)
                                # atomic in-place replace: the path never
                                # goes absent, so no O_EXCL window opens
                                os.rename(tmp, path)
                                stole = True
                        finally:
                            with contextlib.suppress(OSError):
                                os.unlink(mutex)
                if stole:
                    break
                # deadline applies on EVERY loop path (r12 ADVICE: a
                # persistent getmtime/unlink error must not spin forever)
                if time.time() > deadline:
                    raise CommitConflict(
                        "timed out waiting for the table.json lock"
                    )
                # unconditional: a stale lock with a busy steal-mutex
                # must not tight-spin (r12 review — the old stale branch
                # skipped the sleep entirely)
                time.sleep(0.005)
        try:
            yield
        finally:
            try:
                with open(path) as f:
                    mine = f.read() == token
            except OSError:  # pragma: no cover
                mine = False  # stolen/vanished — successor owns the path
            if mine:
                with contextlib.suppress(OSError):
                    os.unlink(path)

    # -- identity ----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.meta_dir, "table.json"))

    def init_table(self, table_meta: dict) -> None:
        """Create the table skeleton (idempotent): data/ + metadata/ and the
        static table descriptor (schema, partition spec, sort order)."""
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        path = os.path.join(self.meta_dir, "table.json")
        if not os.path.exists(path):
            self._atomic_write(path, table_meta)

    def table_meta(self) -> dict:
        with open(os.path.join(self.meta_dir, "table.json")) as f:
            return json.load(f)

    def evolve_schema(self, new_fields_json: list[dict]) -> None:
        """Record an ADDITIVE schema evolution in table metadata: the old
        schema is archived under ``schema_history`` and the named fields
        are APPENDED to ``schema_json`` — Iceberg's schema-evolution
        metadata swap. The union is computed HERE against a fresh read of
        the metadata (not from a caller-supplied full schema) UNDER the
        table.json lock: two concurrent writers adding DIFFERENT columns
        used to interleave this read-modify-write and the loser's add was
        silently erased — which, once r11's carry-and-heal retired the
        loser's heal-gate flag (its evolve "succeeded"), reopened the
        r08 type-change hole with no gate left (r11 second-review find).
        Callers invoke this AFTER the data commit succeeds, so a failed
        write can never leave a declared column with no data. Fields
        already present (by name) are skipped — idempotent."""
        with self._meta_lock():
            meta = self.table_meta()
            schema = meta.get("schema_json") or {
                "type": "struct", "fields": []
            }
            have = {f["name"] for f in schema.get("fields", [])}
            fresh = [f for f in new_fields_json if f["name"] not in have]
            if not fresh:
                return
            history = meta.setdefault("schema_history", [])
            history.append(json.loads(json.dumps(schema)))
            schema = dict(schema)
            schema["fields"] = list(schema.get("fields", [])) + fresh
            meta["schema_json"] = schema
            self._atomic_write(
                os.path.join(self.meta_dir, "table.json"), meta
            )

    # -- partition-spec evolution ------------------------------------------

    def evolve_spec(self, new_spec: list[list]) -> int:
        """Install a NEW partition spec (Iceberg partition evolution):
        the current spec is archived under ``spec_history``, ``spec_id``
        bumps, and only commits written AFTER this call use the new
        layout — existing data files are never rewritten, exactly the
        Iceberg contract (spec evolution is a metadata-only operation).

        Returns the new spec id. Safe against concurrent data commits:
        they create v-files and never touch table.json; concurrent
        evolves and schema folds serialize on the table.json lock (so a
        spec swap can no longer erase a concurrent evolve_schema's
        column add, or vice versa).
        """
        with self._meta_lock():
            meta = self.table_meta()
            old_id = int(meta.get("spec_id", 0))
            history = meta.setdefault("spec_history", {})
            history[str(old_id)] = meta.get("partition_spec", [])
            meta["partition_spec"] = [list(f) for f in new_spec]
            meta["spec_id"] = old_id + 1
            self._atomic_write(
                os.path.join(self.meta_dir, "table.json"), meta
            )
            return old_id + 1

    # -- snapshot access ---------------------------------------------------

    def _max_version(self) -> int:
        """Highest snapshot id EVER ISSUED, across all branches — the
        version-race counter (ids are globally unique, branches share one
        sequence). Counts ``.dropped`` tombstones too (see
        ``_unlink_snapshot``): the counter must be monotone over deleted
        ids, or a post-drop commit would reuse one — aliasing two table
        states under one ``VERSION AS OF`` handle and slipping UNDER live
        instances' incremental batch-id caches (which scan only
        (seen_v, max_v]), reopening the replay double-apply window."""
        try:
            names = os.listdir(self.meta_dir)
        except FileNotFoundError:
            return 0
        ids = []
        for n in names:
            if not n.startswith("v"):
                continue
            core = n[1:]
            if core.endswith(".json.dropped"):
                core = core[: -len(".json.dropped")]
            elif core.endswith(".json"):
                core = core[: -len(".json")]
            else:
                continue
            if core.isdigit():
                ids.append(int(core))
        return max(ids, default=0)

    def current_id(self, branch: str = "main") -> int:
        """Head snapshot id of ``branch`` (default main); 0 = no commits.

        Branch heads are DERIVED by scanning the per-version files rather
        than kept in a pointer file: a read-modify-write ``branches.json``
        would race between writers on different branches, while the
        version-file create is already the single atomic commit point.
        Real Iceberg stores refs in the one table-metadata file it swaps
        atomically; per-version scan is the honest equivalent here.
        """
        head = 0
        for s in self.snapshots():
            if s.get("branch", "main") == branch:
                head = max(head, s["snapshot_id"])
        return head

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
        out = []
        for i in range(1, self._max_version() + 1):
            try:
                out.append(self.snapshot(i))
            except LookupError:
                continue
        return out

    def live_commits(self, snapshot_id: int | None = None,
                     branch: str = "main") -> list[str]:
        """Commit dir names visible at ``snapshot_id`` (default: head of
        ``branch``)."""
        sid = self.current_id(branch) if snapshot_id is None else snapshot_id
        if sid == 0:
            return []
        return self.snapshot(sid)["live"]

    def commit_paths(self, snapshot_id: int | None = None,
                     branch: str = "main") -> list[str]:
        return [os.path.join(self.data_dir, c)
                for c in self.live_commits(snapshot_id, branch)]

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
        """Batch ids recorded by streaming commits — the replay-dedup set.

        Publish snapshots carry the batch ids of the branch lineage they
        fast-forwarded (``batch_ids``), so the exactly-once guarantee
        survives the full WAP sequence commit→publish→drop_branch."""
        out: set[int] = set()
        for s in self.snapshots():
            if s.get("batch_id") is not None:
                out.add(s["batch_id"])
            out.update(s.get("batch_ids", []))
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
        rollback_to: int | None = None,
        batch_id: int | None = None,
        branch: str = "main",
        new_fields: list[dict] | None = None,
        retries: int = 3,
    ) -> int:
        """Commit a snapshot; returns its id.

        ``operation``: append | overwrite | rollback | publish (audit field).
        ``overwrite=True`` replaces the live set with ``added``;
        ``rollback_to`` restores the live set of an earlier snapshot.
        ``branch`` commits onto a named mutable ref (forked from main's
        head on its first commit) — main is just the default branch.
        The loop re-reads the head each attempt, so a concurrent winner's
        appends are preserved (append-over-append composes; overwrite is
        latest-wins, the documented simplification of Iceberg's
        serializable validation). Snapshot ids are globally unique across
        branches (one version sequence), so two writers on different
        branches still serialize through the same atomic v-file create.

        ``new_fields``: the columns this commit ADDS relative to the
        declared schema, carried ON the snapshot. Branch commits: so
        :meth:`publish` can fold them into the declared schema when the
        branch fast-forwards to main — without it, branch-added columns
        stayed undeclared after publish and a later type-changing main
        write of the same column slipped past the additive-only write
        guard (r08 ADVICE, medium). Main commits (r11 crash-injection
        find): so :meth:`heal_publish_folds` can re-fold them if the
        caller crashes between this commit and its evolve_schema —
        main commits also raise the heal-gate flag file here, retired
        by the caller via :meth:`retire_fold_flag` after a successful
        fold.
        """
        for _ in range(retries + 1):
            version = self._max_version()
            # parent = branch head; a branch's FIRST commit forks from main
            head = self.current_id(branch)
            base = head if (head or branch == "main") else self.current_id()
            if rollback_to is not None:
                live = list(self.live_commits(rollback_to))
            elif overwrite:
                live = list(added)
            else:
                live = self.live_commits(base) + list(added)
            snap = {
                "snapshot_id": version + 1,
                "parent_id": base or None,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "added": list(added),
                "live": live,
                "batch_id": batch_id,
            }
            if branch != "main":
                snap["branch"] = branch
            if new_fields:
                # ALL commits carry their column adds on the snapshot
                # (r11 crash-injection find: main commits used to rely on
                # the caller's post-commit evolve_schema alone — a crash
                # between the two left the column in committed data but
                # undeclared, reopening the r08 type-change hole on the
                # MAIN path; branch commits already carried theirs for
                # publish to fold). Main-carried fields are folded by
                # heal_publish_folds; the flag file below gates that scan
                # exactly like publish's.
                snap["new_fields"] = list(new_fields)
                if branch == "main":
                    self._raise_fold_flag(version + 1, "main")
            try:
                self._atomic_create(
                    os.path.join(self.meta_dir, f"v{version + 1}.json"), snap
                )
                return version + 1
            except FileExistsError:
                continue  # lost the race — recompute against the new head
        raise CommitConflict(
            f"commit of {operation} lost the version race {retries + 1} times"
        )

    # -- branches (write-audit-publish) ------------------------------------

    def branches(self) -> dict[str, int]:
        """Branch name -> head snapshot id, for every branch with at least
        one commit (main included when non-empty)."""
        heads: dict[str, int] = {}
        for s in self.snapshots():
            b = s.get("branch", "main")
            if b is None:  # detached (tag-pinned survivor of drop_branch)
                continue
            heads[b] = max(heads.get(b, 0), s["snapshot_id"])
        return heads

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

    def branch_new_fields(self, branch: str) -> list[dict]:
        """Columns the named branch's commits ADDED relative to the declared
        schema at their write time — oldest commit first, deduped by name
        (first declaration wins, matching main's evolve_schema contract).
        Consumed by (a) the write-time schema check, so a later branch
        commit cannot re-add a pending column with a conflicting type, and
        (b) :meth:`publish`, which folds them into the declared schema.

        ONE snapshots() directory scan: branch commits are totally
        ordered by snapshot id (a branch has a single lineage), so
        ascending-id iteration over branch-tagged snapshots equals the
        ancestor walk without re-reading one v-file per ancestor (review
        find: the walk form doubled the per-write O(history) cost)."""
        out: list[dict] = []
        have: set[str] = set()
        for s in sorted(self.snapshots(), key=lambda s: s["snapshot_id"]):
            if s.get("branch", "main") != branch:
                continue
            for fj in s.get("new_fields", []):
                if fj["name"] not in have:
                    have.add(fj["name"])
                    out.append(fj)
        return out

    def heal_publish_folds(self) -> int:
        """Re-apply publish-recorded column folds the declared schema is
        missing. publish() writes its fast-forward snapshot and folds the
        branch's staged columns (``evolve_schema``) as TWO metadata
        writes; a crash between them left published branch-added columns
        undeclared — re-opening the r08 type-change hole — and nothing
        re-folded later (r09 ADVICE). Publish snapshots therefore carry
        their fold set (``staged_new_fields``), and this heal — run
        before every write-time schema check (sink._check_write_schema)
        and at the top of every publish — folds any still-undeclared
        ones back in. ``evolve_schema`` is idempotent, so repeated heals
        are no-ops. Returns the number of fields folded.

        Expiry note (corner CLOSED in r11): ``expire`` folds a doomed
        main-line snapshot's still-undeclared fold set forward into the
        retained fold target's ``new_fields`` — the same carry-the-
        lineage mechanism as streaming batch ids — so even
        crash-then-expire-with-zero-intervening-writes keeps the heal
        chain alive.

        Cost: the scan is O(retained history), so it is gated on the
        heal-gate flags publish() raises BEFORE staging a fold and this
        heal clears after folding — the common no-publish write path pays
        one meta-dir listing, not a v-file sweep (r10 self-review find: a
        streaming sink paid a full metadata parse per micro-batch for a
        fold set that is almost always empty).

        Flag protocol (r11, second revision): each raise is its OWN file
        ``pending_fold.<target snapshot id>.json`` (atomic rename-in) and
        the heal unlinks ONLY files whose target id its scan covered
        (id ≤ max snapshot id seen). No read-modify-write exists anywhere
        in the protocol, so concurrent raises and clears cannot clobber
        each other — the first r11 design kept the flag as a table.json
        field with a watermark, and its clear was still an RMW that could
        erase a publish racing between the heal's re-read and its write
        (self-review find). A file whose raiser crashed before creating
        its v-file stays until the table's next commit takes that id
        (ids are max+1) — one extra scan per write until then, never
        forever, and a real fold is never lost. A legacy table.json
        ``pending_publish_folds`` field (pre-revision crash artifact) is
        honored and cleared under the old watermark rule."""
        if not self.exists():
            return 0
        try:
            # strict-match: _atomic_write temp files share the prefix and
            # must never be swept (the raiser's os.replace would crash)
            flag_files = [
                fn for fn in os.listdir(self.folds_dir)
                if _FOLD_FLAG_RE.match(fn)
            ]
        except FileNotFoundError:
            flag_files = []
        meta = self.table_meta()
        legacy = meta.get("pending_publish_folds")
        if not flag_files and not legacy:
            return 0
        have = {
            f["name"]
            for f in (meta.get("schema_json") or {}).get("fields", [])
        }
        pending: list[dict] = []
        seen_max = 0
        for s in self.snapshots():
            seen_max = max(seen_max, int(s.get("snapshot_id") or 0))
            if s.get("branch", "main") != "main":
                # branch snapshots are deliberately EXCLUDED (their adds
                # fold at publish, never before) and so are detached
                # ones (branch=None — a dropped branch's tag-pinned
                # survivor must not declare a column main has no data
                # for). Publish snapshots carry no branch field, so they
                # pass this gate.
                continue
            # both fold-carrying keys: ``staged_new_fields`` (a publish's
            # fold set — the branch's staged columns) and ``new_fields``
            # (a MAIN commit's own adds, r11 crash-injection find: a
            # crash between commit and evolve_schema left them
            # undeclared with nothing re-folding; ALSO the key expire()
            # folds doomed snapshots' sets forward into)
            carried = (s.get("staged_new_fields") or []) + (
                s.get("new_fields") or []
            )
            for fj in carried:
                if fj["name"] not in have:
                    pending.append(fj)
                    have.add(fj["name"])
        if pending:
            self.evolve_schema(pending)
        # clear = unlink exactly the flag files this scan covered; a
        # concurrent raise is a DIFFERENT file name and stays untouched
        for fn in flag_files:
            tid = int(_FOLD_FLAG_RE.match(fn).group(1))
            if tid <= seen_max:
                try:
                    os.unlink(os.path.join(self.folds_dir, fn))
                except FileNotFoundError:
                    pass  # another heal got it first — same outcome
        if legacy and int(legacy) <= seen_max:
            # legacy-field clear under the table.json lock: this RMW
            # could otherwise erase a concurrent evolve_schema's column
            # add (r11 second-review find) — live only while a
            # pre-revision crash artifact exists, but that upgrade
            # window is exactly when correctness matters most
            with self._meta_lock():
                meta = self.table_meta()
                if meta.pop("pending_publish_folds", None) is not None:
                    self._atomic_write(
                        os.path.join(self.meta_dir, "table.json"), meta
                    )
        return len(pending)

    def _raise_fold_flag(self, target: int, source_branch: str) -> None:
        """Raise the heal gate for the commit/publish targeting snapshot
        ``target`` — one file per raise in ``pending_folds/`` (its own
        subdir so the per-write gate check lists O(#flags) entries,
        almost always zero, not the O(history) v-file population)."""
        os.makedirs(self.folds_dir, exist_ok=True)
        self._atomic_write(
            os.path.join(self.folds_dir, f"pending_fold.{target}.json"),
            {"target": target, "source_branch": source_branch},
        )

    def retire_fold_flag(self, snapshot_id: int) -> None:
        """Remove the heal-gate flag a commit/publish raised for
        ``snapshot_id`` — called by the owner AFTER its fold succeeded
        (a crash before this leaves the flag for the next heal)."""
        try:
            os.unlink(os.path.join(
                self.folds_dir, f"pending_fold.{snapshot_id}.json"
            ))
        except FileNotFoundError:
            pass  # a heal swept it first — same outcome

    def publish(self, branch: str, retries: int = 3) -> int:
        """Fast-forward main to ``branch``'s head (Iceberg's
        ``fast_forward`` procedure — the publish step of write-audit-
        publish). Requires main's head to be an ancestor of the branch
        head — OR a previous publish of this same branch (Iceberg's
        fast_forward leaves main and the branch pointing at the same
        snapshot, so stage→publish→stage-more→publish is the normal
        steady-state loop, not a conflict). If main advanced through any
        OTHER route since the branch forked, publishing would silently
        drop those commits, so raise instead (rebase by re-staging).

        The publish snapshot records ``published_head`` (the branch head
        it fast-forwarded — what makes re-publish recognizable) and
        ``batch_ids`` (every streaming batch id in the published branch
        lineage — what keeps exactly-once dedup alive after the branch
        is dropped).

        Publishing also FOLDS the branch's staged column adds into the
        declared schema (``branch_new_fields`` → ``evolve_schema``): the
        staged columns were deliberately kept out of main's declared shape
        while unpublished (a dropped branch must not leave a declared
        column with no data), but once its commits become main's live set
        the declaration must follow — otherwise a later main write of the
        same column with a DIFFERENT type passes the additive-only check
        and poisons cross-commit reads (r08 ADVICE, medium)."""
        b_head = self.current_id(branch)
        if b_head == 0:
            raise LookupError(f"branch {branch!r} has no commits")
        # fold-before-this-publish healing: a PRIOR publish that crashed
        # between its snapshot write and its schema fold left published
        # columns undeclared (r09 ADVICE) — repair before stacking more
        self.heal_publish_folds()
        staged = self.branch_new_fields(branch)
        b_chain = self.ancestors(b_head)
        batch_ids = sorted({
            s["batch_id"]
            for sid in b_chain
            for s in [self._maybe_snapshot(sid)]
            if s is not None
            and s.get("branch", "main") == branch
            and s.get("batch_id") is not None
        })
        for _ in range(retries + 1):
            m_head = self.current_id()
            if m_head and m_head not in b_chain:
                m_snap = self._maybe_snapshot(m_head)
                republish_of_self = (
                    m_snap is not None
                    and m_snap.get("operation") == "publish"
                    and m_snap.get("source_branch") == branch
                    and m_snap.get("published_head") in b_chain
                )
                if not republish_of_self:
                    raise CommitConflict(
                        f"cannot fast-forward: main advanced to {m_head} after "
                        f"branch {branch!r} forked (not an ancestor of {b_head})"
                    )
            snap = {
                "snapshot_id": self._max_version() + 1,
                "parent_id": m_head or None,
                "timestamp_ms": int(time.time() * 1000),
                "operation": "publish",
                "added": [],
                "live": list(self.live_commits(b_head)),
                "batch_id": None,
                "batch_ids": batch_ids,
                "source_branch": branch,
                "published_head": b_head,
            }
            if staged:
                # the publish snapshot CARRIES its fold set: if the
                # evolve_schema below never runs (crash between the two
                # non-atomic metadata writes — r09 ADVICE), the next
                # heal_publish_folds() re-derives it from the snapshot
                # instead of leaving published columns undeclared forever
                snap["staged_new_fields"] = list(staged)
                # raise the heal gate FIRST: flag-then-snapshot-then-fold
                # means a crash at any point leaves either nothing to do
                # or a raised flag the next heal acts on. The flag is its
                # OWN file named by THIS attempt's target snapshot id —
                # the heal unlinks a flag only after its scan covered
                # that id, and since no read-modify-write exists in the
                # protocol a racing heal/raise pair cannot clobber each
                # other (r11 self-review: the previous table.json-field
                # watermark still lost a concurrent raise to the clear's
                # RMW). One file per retry attempt; superseded attempts'
                # files are swept by the next heal once any commit takes
                # their target id.
                self._raise_fold_flag(snap["snapshot_id"], branch)
            try:
                self._atomic_create(
                    os.path.join(self.meta_dir, f"v{snap['snapshot_id']}.json"),
                    snap,
                )
                if staged:
                    # fold AFTER the publish snapshot lands: the staged
                    # data is now main-visible, so declaring its columns
                    # can no longer strand a declared column without data
                    self.evolve_schema(staged)
                    # fold done: retire this attempt's heal-gate flag
                    # (crash before this line → the next heal sweeps it)
                    self.retire_fold_flag(snap["snapshot_id"])
                return snap["snapshot_id"]
            except FileExistsError:
                continue
        raise CommitConflict(f"publish of {branch!r} lost the version race")

    def drop_branch(self, branch: str) -> list[int]:
        """Delete a branch: unlink its snapshot files and remove commit
        dirs no remaining snapshot references (the audit-failed arm of
        write-audit-publish — staged data vanishes, main is untouched).
        Published data survives because the publish snapshot on main
        carries the live list itself.

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

    # -- maintenance -------------------------------------------------------

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

        Concurrency contract: retention is a SINGLE-MAINTAINER operation
        (the same assumption Iceberg's maintenance procedures make).
        Expire is safe against concurrent COMMITS (commits create new
        v-files and never touch old ones; the batch-id fold rewrites only
        an old file), but two concurrent expires race read-modify-write
        on the fold target and the loser's folded ids could be lost —
        run retention from one place.
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
        for sid in retained_ids:
            snap = self._maybe_snapshot(sid)
            if snap is not None:
                retained_live.update(snap["live"])
        doomed = [s for s in snaps if s["snapshot_id"] not in retained_ids]
        # Exactly-once across restart + retention: a replayed micro-batch
        # is detected by its batch id recorded in some retained v-file. If
        # expiry deletes the snapshot that carried the id while the
        # batch's DATA lives on in later snapshots' live lists, a sink
        # instance restarted after this point would rebuild its dedup
        # cache without the id and re-append the replay — duplicating
        # committed rows. So fold expired batch ids FORWARD into the
        # oldest retained main snapshot's ``batch_ids`` (the same
        # carry-the-lineage mechanism ``publish`` uses for dropped WAP
        # branches); when that snapshot expires in turn, its folded ids
        # roll forward again, so the chain never breaks. The fold is
        # written BEFORE any unlink: a crash mid-expire then leaves
        # duplicate id records (harmless), never a lost one.
        expired_batch_ids: set[int] = set()
        for s in doomed:
            if s.get("batch_id") is not None:
                expired_batch_ids.add(s["batch_id"])
            expired_batch_ids.update(s.get("batch_ids", []))
        # Schema folds ride the same forward-carry (r11: closes the
        # documented crash-then-expire corner): a doomed MAIN-LINE
        # snapshot carrying a fold set the declared schema is still
        # missing (torn publish or torn main evolve whose heal never ran)
        # would take the fold record with it — a later conflicting-type
        # write would then pass the additive-only guard. Merge those
        # still-undeclared sets into the fold target's ``new_fields``;
        # heal_publish_folds reads that key on main-line snapshots, so
        # the heal chain survives expiry exactly like the batch-id chain.
        declared_names = {
            f["name"]
            for f in (self.table_meta().get("schema_json") or {}).get(
                "fields", []
            )
        }
        doomed_folds: list[dict] = []
        for s in doomed:
            if s.get("branch", "main") != "main":
                continue  # dropped-branch leftovers never fold
            for fj in (s.get("staged_new_fields") or []) + (
                s.get("new_fields") or []
            ):
                if fj["name"] not in declared_names:
                    declared_names.add(fj["name"])
                    doomed_folds.append(fj)
        if expired_batch_ids or doomed_folds:
            # fold target: oldest retained MAIN snapshot, else ANY oldest
            # retained snapshot (a branch-only history — every main
            # snapshot expired, survivors retained via refs/branches —
            # must still carry the dedup lineage somewhere). If NOTHING
            # is retained, folding is impossible and expiring the id-
            # bearing snapshots would let a restarted sink re-apply those
            # batches — refuse instead of silently dropping the ids.
            fold_ids = sorted(main_ids[-keep_last:]) or sorted(retained_ids)
            tgt_id = None
            tgt = None
            for i in fold_ids:
                snap = self._maybe_snapshot(i)
                if snap is not None:
                    tgt_id, tgt = i, snap
                    break
            if tgt is None:
                raise ValueError(
                    "expire() would drop committed batch ids "
                    f"{sorted(expired_batch_ids)} with no retained snapshot "
                    "to fold them into — a restarted sink could re-apply "
                    "those batches; retain at least one snapshot (or drop "
                    "the refs pinning only id-free history) before expiring"
                )
            merged = set(tgt.get("batch_ids", []))
            merged |= expired_batch_ids
            tgt["batch_ids"] = sorted(merged)
            if doomed_folds and tgt.get("branch", "main") == "main":
                # fold_ids prefers main snapshots, so a non-main target
                # only happens in a branch-only history where every main
                # snapshot (and its data) is leaving — the undeclared-
                # column hazard leaves with it, dropping the fold is
                # correct there
                have_t = {
                    f["name"]
                    for f in (tgt.get("new_fields") or [])
                    + (tgt.get("staged_new_fields") or [])
                }
                add = [f for f in doomed_folds if f["name"] not in have_t]
                if add:
                    tgt["new_fields"] = list(
                        tgt.get("new_fields") or []
                    ) + add
            self._atomic_write(
                os.path.join(self.meta_dir, f"v{tgt_id}.json"),
                tgt,
            )
        expired = []
        expired_live: set[str] = set()
        for s in doomed:
            sid = s["snapshot_id"]
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
        atomic rename), so ``_max_version`` never re-issues its id.
        Tombstones are tiny, invisible to every snapshot reader (which
        look up exact ``v{sid}.json`` names), and live as long as the
        table's metadata directory."""
        os.replace(path, f"{path}.dropped")

    def _atomic_write(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)

    def _atomic_create(self, path: str, obj: dict) -> None:
        """Create ``path`` exclusively: hard-link a fully-written temp file
        into place, so a reader never observes a partial snapshot and a
        racing writer gets FileExistsError (the commit conflict signal)."""
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
