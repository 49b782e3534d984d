"""Lake sink — the reference's core capability (A1–A9), Spark-first.

Reference: /root/reference/src/bytewax_iceberg_connector/connector.py —
``IcebergSink`` (396-454), fixed partition writers (112-145, 456-495),
buffer/flush machinery (147-259), partition-key grouping (261-335),
checkpoint state (337-350), table load/create (358-393).

What is deliberately NOT ported (SURVEY.md §7): the buffer/retry/snapshot
machinery. Spark's micro-batch planner + snapshot commits + checkpointLocation
subsume A4/A5/A7/A8 with a *stronger* guarantee — replayable source offsets +
atomic commits + committed-batch-id dedup give exactly-once (the reference's
``last_committed_batch`` dedup is declared but never updated,
connector.py:137, so its exactly-once is aspirational; ours executes —
operators/snapshots.py).

The parquet-log warehouse: hive-style layout under
``warehouse/table/data/_c=<commit>/`` with partition transforms from
operators/partitioning.py materialized as ``_p_*`` directory columns, PLUS
a real snapshot log (operators/snapshots.py) giving the same
co-location/pruning properties AND atomic commits, snapshot isolation,
time travel, rollback and streaming exactly-once — so the Iceberg
*contract* is proven under test even where the runtime cannot load. When
iceberg-spark-runtime IS on the classpath, ``LakeSink(spark, config)``
returns an ``IcebergRuntimeSink`` instead (operators/iceberg_sink.py):
the same public methods, each one call into the runtime.

Scale: the append path repartitions by partition key before writing
(`write.distribution-mode=hash` equivalent) so 1000 executors produce
|partitions| files per commit, not |executors|×|partitions| small files. A
single-writer commit whose plan Catalyst estimates as small coalesces into
one task instead (`none`), which writes the same files without the exchange.
Snapshot JSONs carry the cumulative commit list — O(commits); real Iceberg's
manifest lists make this O(1), the documented small-scale trade-off.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from ..config import (
    IcebergSinkConfig,
    bind_sink_session,
    check_one_pin,
    declared_schema,
)
from ..functions.zorder import zorder_key
from .iceberg_sink import IcebergRuntimeSink
from .merge import latest_per_key, merge_upsert
from .partitioning import (
    ESC_MARK,
    PartitionField,
    as_fields,
    encode_hostile_pcol,
    parse_transform,
    partition_columns,
    partition_key,
    qcol,
    qname,
    transform_column,
    unescape_path_name,
)
from .snapshots import CommitConflict, SnapshotLog


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when iceberg-spark-runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


#: commit operations whose snapshot REPLACES the live set (vs appending)
_REPLACING_OPS = frozenset({"overwrite", "replace", "delete"})

#: Catalyst's size estimate (bytes) at or below which a single-writer
#: (``num_partitions=1``) write goes through ``coalesce(1)`` instead of
#: the ``repartition(1, _p_*)`` exchange — Iceberg's per-table
#: ``write.distribution-mode`` choice of ``none`` over ``hash``, made per
#: commit from the plan. Under AQE the exchange is a Spark job of its own;
#: ``coalesce(1)`` saves it but runs everything upstream of the write in
#: one task. ``tools/write_crossover.py`` times both (4 vCPU, local[4],
#: 1 GiB heap; ms per append, exchange vs coalesce): a 4-file parquet scan
#: with sha2-512 columns upstream 124 vs 104 at a 0.08 MB estimate, 163 vs
#: 141 at 0.53 MB, 443 vs 431 at 4.6 MB, 935 vs 1045 at 13.6 MB and
#: 2914 vs 3224 at 34.7 MB; an Arrow frame 163 vs 137 at 0.68 MB. The
#: crossover sits near 5 MB for hashing upstream and moves lower the more
#: work each byte costs, so the threshold stays well under it. A join's
#: estimate is the product of its sides, so a join upstream keeps the
#: exchange (the tool measured no gain there). Re-run the tool to derive
#: the value on other hardware.
_COALESCE_MAX_BYTES = 1 << 20


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan, in bytes: the
    statistic Spark's broadcast-join rule reads. Computing it plans the
    query but runs no Spark job."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def _empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of exactly ``schema``, built by the JVM from the
    schema alone as a ``LocalRelation`` (it takes any Spark type), so
    running it starts no Python worker: ``createDataFrame`` of a Python
    list runs Python-worker tasks, and its first use in a process forks
    the PySpark daemon."""
    js = spark._jsparkSession
    return DataFrame(js.createDataFrame(
        spark._jvm.java.util.ArrayList(), js.parseDataType(schema.json())
    ), spark)


def _sort_exprs(sort_order: list[str]):
    """Compile config.sort_order entries ('col' | 'col desc') to Columns."""
    out = []
    for s in sort_order:
        parts = s.split()
        c = F.col(parts[0])
        if len(parts) > 1 and parts[1].lower() in ("desc", "descending"):
            c = c.desc()
        out.append(c)
    return out


class LakeSink:
    """A1 ``IcebergSink`` equivalent: batch append + streaming micro-batch.

    The reference's ``num_partitions`` fixed writer fan-out (A2 list_parts,
    connector.py:456-468) maps to ``repartition(num_partitions, keys)``.
    At ``num_partitions=1`` a commit whose input Catalyst estimates at
    ``_COALESCE_MAX_BYTES`` or less (1 MiB, below the crossover that
    ``tools/write_crossover.py`` measures) goes through ``coalesce(1)``
    instead: the same one file per partition value, in one Spark job
    rather than two. Its dual size/time flush trigger (A4,
    connector.py:187-191) maps to the streaming trigger interval (time) +
    the source admission cap compiled from ``batch_size``
    (config.source_admission_options) — together the same "flush at N
    records or T seconds" envelope.

    Every method below is the parquet-log path. With iceberg-spark-runtime
    on the classpath, ``LakeSink(spark, config)`` returns a fully built
    ``IcebergRuntimeSink`` instead (operators/iceberg_sink.py).
    """

    def __new__(cls, spark: SparkSession, config: IcebergSinkConfig):
        # Python skips __init__ for an object that is not a LakeSink
        if iceberg_runtime_available(spark):
            return IcebergRuntimeSink(spark, config)
        return super().__new__(cls)

    def __init__(self, spark: SparkSession, config: IcebergSinkConfig) -> None:
        bind_sink_session(spark, config)
        self.spark = spark
        self.config = config
        self._log = SnapshotLog(self._path)

    # -- identity ----------------------------------------------------------

    @property
    def _path(self) -> str:
        # config.location wins when declared (reference connector.py:380-386
        # creates at an explicit location); else warehouse/db/table
        if self.config.location:
            return self.config.location
        wh = self.config.warehouse_path or "/tmp/bic_spark_warehouse"
        return os.path.join(wh, *self.config.table_name.split("."))

    def _file_format(self) -> str:
        """Data file format (A20 ``file_format``: the reference writes the
        configured format via pyiceberg, models.py:16-24). parquet and orc
        are Spark built-ins; avro needs the external spark-avro package —
        raise the same explicit config error the reference's enum gives
        rather than silently writing a different format.
        """
        fmt = self.config.file_format.value
        if fmt in ("parquet", "orc"):
            return fmt
        if fmt == "avro":
            # probe through Spark's own data-source registry — the avro
            # CLASSES ship with the distribution, but the module is only
            # usable when spark-avro is deployed, so Class.forName lies
            jvm = self.spark._jvm
            try:
                jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                    "avro", jvm.org.apache.spark.sql.internal.SQLConf.get()
                )
                return "avro"
            except Exception:
                raise ValueError(
                    "file_format=avro requires the spark-avro package on the "
                    "classpath (org.apache.spark:spark-avro); parquet/orc are "
                    "built in"
                ) from None
        raise ValueError(f"unsupported file_format: {fmt}")  # pragma: no cover

    def table_exists(self) -> bool:
        return self._log.exists()

    # -- A9: load-or-create ------------------------------------------------

    def ensure_table(self, like: DataFrame | None = None) -> None:
        """Create the table if missing (A9, connector.py:358-393): schema
        from ``like`` when given, else from ``config.table_schema``; hidden
        partition spec + sort order from config. No-op when present.

        Parity note: like the reference (connector.py:389-392) this raises
        when the table is missing AND no schema is derivable; unlike the
        reference the write path always has a DataFrame, so that failure
        mode only exists for explicit schema-less ensure_table() calls.
        """
        if self.table_exists():
            return
        if like is None:
            like = _empty_frame(self.spark, declared_schema(self.config))
        # config seeds the spec at create time only: from then on the
        # table's snapshots own it (evolve_partition_spec), as Iceberg
        # reads the spec from table metadata, never from writer config
        spec = as_fields(self.config.partition_spec or [])
        keyed = partition_key(like.limit(0), spec)
        self._log.init_table(
            {
                "table_name": self.config.table_name,
                "schema_json": keyed.schema.jsonValue(),
                "partition_spec": [
                    [f.source, f.transform, f.field_name] for f in spec
                ],
                "sort_order": self.config.sort_order or [],
                "properties": self.config.table_properties(),
            }
        )

    # -- A1/A4/A5: batch append -------------------------------------------

    def append(self, df: DataFrame, batch_id: int | None = None,
               branch: str = "main") -> None:
        """Atomic-append a batch (the reference's _flush, collapsed).

        Partition-key grouping (A6) + per-group Arrow write + commit (A5)
        become: compute transform columns → hash-repartition on them (at
        ``num_partitions=1`` with a size estimate of at most
        ``_COALESCE_MAX_BYTES``, set from ``tools/write_crossover.py``'s
        crossover: ``coalesce(1)``, no exchange) → (sort within
        partitions per config.sort_order) → columnar write →
        ONE snapshot commit (operators/snapshots.py), optimistic-retried
        exactly like the reference's commit loop (connector.py:242-257).

        ``branch`` stages the commit on a named ref instead of main (the
        write step of write-audit-publish — Iceberg's ``spark.wap.branch``
        session conf): main readers never see the rows until
        :meth:`publish`; :meth:`drop_branch` is the audit-failed arm.
        """
        self.ensure_table(df)
        self._write_commit(df, operation="append", batch_id=batch_id,
                           branch=branch)

    def _live_rows(self, head: dict | None) -> tuple[DataFrame, list[str]]:
        """The rows of ``head`` (``SnapshotLog.head(branch)``: a branch
        with no commits yet reads main's head, which its first commit
        forks from) minus the ``_p_*`` layout columns, and the commit dirs
        they come from: the input and the ``replaces`` list of every
        copy-on-write rewrite."""
        live = [] if head is None else list(head["live"])
        current = self._load_commit_dirs(
            [] if head is None else self._log.commit_paths(snap=head),
            self._log.table_state(head),
        )
        return current.select(*[qcol(c) for c in current.columns
                                if not c.startswith("_p_")]), live

    def overwrite(self, df: DataFrame, batch_id: int | None = None,
                  branch: str = "main") -> None:
        """Replace the table contents in one snapshot (the copy-on-write
        commit MERGE compiles to). ``batch_id``
        tags the snapshot with a caller-meaningful watermark (e.g. the
        base-table snapshot a materialized view was refreshed to).
        ``branch`` stages the replacing commit on a WAP branch (r09
        ADVICE: maintenance is stageable, not append-only — Iceberg
        routes DML through the same ``spark.wap.branch`` conf)."""
        self.ensure_table(df)
        self._write_commit(df, operation="overwrite", batch_id=batch_id,
                           branch=branch)

    def overwrite_partitions(self, df: DataFrame,
                             branch: str = "main") -> None:
        """Dynamic partition overwrite (backfill/restatement): replace ONLY
        the partitions ``df``'s rows fall into, leaving every other
        partition untouched — Iceberg's ``overwritePartitions`` / Spark's
        dynamic-overwrite mode, the idiom for re-running one day of a
        pipeline without touching the rest of the table.

        Copy-on-write: survivors outside the affected partitions union the
        new rows into one commit that replaces the dirs it read (history
        stays time-travelable, and an append landing meanwhile survives).
        Iceberg does this with file-level surgery; the whole-table rewrite
        is the documented small-scale trade-off, same as merge(). The
        spec, the live rows and the commit's base all come from one read
        of the head.
        """
        self.ensure_table(df)
        head = self._log.head(branch)
        spec = as_fields(self._log.table_state(head)["partition_spec"])
        pcols = partition_columns(spec)
        if not pcols:
            # unpartitioned table: replacing "its partitions" = everything
            self._write_commit(
                df, operation="overwrite", branch=branch, head=head,
                replaces=[] if head is None else list(head["live"]),
            )
            return
        live, dirs = self._live_rows(head)
        new_keyed = partition_key(df, spec)
        affected = new_keyed.select(*[qcol(c) for c in pcols]).distinct()
        # partition membership is LOGICAL — the current spec's transforms
        # over the data columns — not the stored _p_* layout: rows from
        # pre-evolution commits carry other (or no) layout columns, so
        # recompute the key for every live row exactly as Iceberg
        # evaluates the current spec against old files
        cur_keyed = partition_key(live, spec)
        # NULL-SAFE key match (r10 sweep): plain equality never matches
        # NULL = NULL, so rows in the NULL partition survived the anti
        # join while the new batch still appended — overwriting the NULL
        # partition silently DUPLICATED it instead of replacing it.
        # qname inside the alias qualifier: a dotted/backticked partition
        # field name would otherwise parse as nested access (r10
        # self-review find — the same class qcol fixes elsewhere)
        cond = None
        for c in pcols:
            eq = F.col(f"_bic_cur.{qname(c)}").eqNullSafe(
                F.col(f"_bic_aff.{qname(c)}"))
            cond = eq if cond is None else cond & eq
        survivors = cur_keyed.alias("_bic_cur").join(
            F.broadcast(affected.alias("_bic_aff")), on=cond, how="left_anti"
        ).select(*[qcol(c) for c in live.columns])
        # the incoming batch may predate a schema evolution: align by name
        # with null-fill instead of projecting the table's columns out of
        # a frame that never had them (r06 model-test find)
        self._write_commit(
            survivors.unionByName(df, allowMissingColumns=True),
            operation="overwrite", branch=branch, replaces=dirs, head=head,
        )

    def _write_commit(self, df: DataFrame, operation: str,
                      batch_id: int | None = None,
                      cluster_expr=None, branch: str = "main",
                      replaces: list[str] | None = None,
                      head: dict | None = None) -> None:
        """Write ``df`` as one commit dir and commit it on ``branch``.
        ``replaces``: the dirs a rewrite read (see ``SnapshotLog.commit``);
        without it a replacing operation overwrites the live set.
        ``head``: the head snapshot the caller read, else read here."""
        log = self._log
        if head is None:
            head = log.head(branch)
        # ONE table state per commit: the spec, the partition columns, the
        # schema checked against and the marker's spec_id all come from
        # the head snapshot, so an evolve_partition_spec landing mid-write
        # cannot give a commit written in one layout a marker naming
        # another
        state = log.table_state(head)
        spec = as_fields(state["partition_spec"])
        new_fields = self._check_write_schema(df, state, branch=branch)
        keyed = partition_key(df, spec)
        pcols = partition_columns(spec)
        # dir-encoding-hostile string partition VALUES ("" / the literal
        # Hive default sentinel / overlong / marker-spoofing) are diverted
        # to injective marker strings (r10 sweep: "" and NULL and the
        # literal sentinel all collapsed into ONE directory —
        # FileAlreadyExists mid-write or silent partition merge); the read
        # side recomputes flagged columns from the source data columns
        # (operators/partitioning.py has the full design note). Applied
        # BEFORE the repartition/sort chain: the encoding is injective so
        # co-location is unchanged, and the writer's required
        # partition-column ordering must hold on the column VALUES BEING
        # WRITTEN — encoding after the sort replaced the sorted attribute
        # and the V1 writer re-sorted by partition columns only,
        # clobbering config.sort_order / z-order file ordering (r10
        # self-review find). Footer stats and the marker's fields are
        # unaffected: _p_ columns are dir-encoded, never stored in files.
        for c, t in keyed.dtypes:
            if c in pcols and t == "string":
                keyed = keyed.withColumn(
                    c, encode_hostile_pcol(qcol(c), c)
                )
        if cluster_expr is not None:
            # multi-dimensional clustering (z-order): ONE range exchange on
            # the interleaved key, files sorted by it → tight min/max stats
            # on every clustering column at once. Partition columns still
            # lead the within-partition sort (writer requirement, as below).
            keyed = (
                keyed.withColumn("_bic_z", cluster_expr)
                .repartitionByRange(self.config.num_partitions, "_bic_z")
                .sortWithinPartitions(*[qcol(c) for c in pcols], "_bic_z")
                .drop("_bic_z")
            )
        elif (self.config.num_partitions == 1
              and _plan_bytes(keyed) <= _COALESCE_MAX_BYTES):
            # a small single-writer input: a narrow dependency into one
            # task writes the same files as the exchange below, without
            # the shuffle-map job AQE runs for it (one Spark job, not two)
            keyed = keyed.coalesce(1)
        else:
            keyed = keyed.repartition(
                self.config.num_partitions, *[qcol(c) for c in pcols]
            ) if pcols else keyed.repartition(self.config.num_partitions)
        if cluster_expr is None and self.config.sort_order:
            # file-level ordering: Iceberg's WRITE ORDERED BY analogue —
            # sorted row groups → tighter min/max stats → better file skips.
            # Partition columns lead the sort: the partitioned-file writer
            # requires its output ordered by them and would inject its OWN
            # sort (clobbering ours) if the order didn't already satisfy it
            keyed = keyed.sortWithinPartitions(
                *[qcol(c) for c in pcols],
                *_sort_exprs(self.config.sort_order)
            )
        name, path = log.new_commit_dir()
        fmt = self._file_format()
        w = keyed.write.mode("errorifexists").format(fmt)
        if pcols:
            w = w.partitionBy(*pcols)
        w.save(path)
        # ONE walk of the written tree feeds the footer stats, n_files and
        # esc_pcols
        ext = f".{fmt}"
        data_files: list[str] = []
        esc_pcols: set[str] = set()
        for root, dirnames, files in os.walk(path):
            data_files += [os.path.join(root, fname) for fname in files
                           if fname.endswith(ext)]
            # any "_p_col=__BIC_ESC__..." component marks that column as
            # write-escaped in THIS commit; the read side recomputes it.
            # The component's NAME portion is Hive-escaped on disk too —
            # record the LOGICAL name (unescaped), which is what
            # _restore_pcols keys its spec-field lookup on (r11 ADVICE:
            # an escapable char in the column name, e.g. "a:b" → "a%3Ab",
            # silently skipped the recompute and leaked the marker)
            for dn in dirnames:
                col, eq, val = dn.partition("=")
                if eq and val.startswith(ESC_MARK):
                    esc_pcols.add(unescape_path_name(col))
        self._write_commit_stats(path, data_files)
        # record which partition layout this commit dir was written under —
        # the per-manifest spec_id of Iceberg: read() groups dirs by it so
        # a table whose spec EVOLVED mid-history still scans cleanly.
        # n_files is the commit's data-file count, counted ONCE here at
        # write time so readers can skip fileless commits from metadata
        # instead of re-walking every commit dir per read (the manifest's
        # added-data-files count in Iceberg) — at scale the per-read walk
        # is an O(total files) driver-side stat storm.
        # (a table from before spec evolution has no spec_id: spec 0, the
        # same default-spec convention as Iceberg)
        marker = {"spec_id": int(state["spec_id"]),
                  "pcols": pcols,
                  "n_files": len(data_files),
                  # the commit's data fields as written (Iceberg's
                  # per-manifest schema): read() hands their union to the
                  # reader, so no read infers a schema from footers
                  "fields": [f.jsonValue() for f in keyed.schema.fields
                             if f.name not in pcols]}
        if esc_pcols:
            marker["esc_pcols"] = sorted(esc_pcols)
        # atomic rename-in: our own crashes can then never leave a TORN
        # marker in a dir a snapshot references (the commit below comes
        # after), so readers may treat any unparseable marker as external
        # damage and refuse loudly instead of silently degrading
        mtmp = os.path.join(path, "_bic_spec.json.tmp")
        with open(mtmp, "w") as f:
            json.dump(marker, f)
        os.replace(mtmp, os.path.join(path, "_bic_spec.json"))
        try:
            # the column adds land in the snapshot's schema, in the same
            # atomic create as the data: a branch's stay on the branch
            # until publish copies them to main
            log.commit(
                operation, [name],
                overwrite=replaces is None and operation in _REPLACING_OPS,
                replaces=replaces, batch_id=batch_id, branch=branch,
                new_fields=[f.jsonValue() for f in new_fields] or None,
            )
        except (ValueError, CommitConflict):
            shutil.rmtree(path, ignore_errors=True)  # rejected: no orphan
            raise

    def _check_write_schema(
        self, df: DataFrame, state: dict, branch: str = "main"
    ) -> list[StructField]:
        """Write-time schema compatibility (Iceberg's contract: evolution
        is additive; a TYPE change is rejected at write, never stored):
        every batch column that already exists in the schema of the
        branch head (``state``, from ``SnapshotLog.table_state``) must
        keep its type. Before this check, a long→double rewrite of an
        existing column committed fine and every subsequent read failed
        with CANNOT_MERGE_SCHEMAS (loud, but the bad commit was already
        in history); now the WRITE fails and history stays readable —
        which is also why the read side's union of commit marker fields
        can never hold two types for one name. Nullability is not
        compared (parquet unions relax it anyway).

        A branch head's schema holds the columns staged on the branch, so
        a staged column binds like a declared one: commit 1 staging ``x``
        as long and commit 2 staging ``x`` as double is rejected.

        Returns the batch's NEW fields; the commit appends them to its
        snapshot's schema, and rejects them if a racing commit added the
        same name with another type.
        """
        where = ("declared" if branch == "main"
                 else f"declared or staged on branch {branch!r}")
        binding = {
            f.name: f.dataType
            for f in StructType.fromJson(state["schema_json"]).fields
        }
        new_fields = []
        for f in df.schema.fields:
            have = binding.get(f.name)
            if have is None:
                new_fields.append(f)
            elif f.dataType.simpleString() != have.simpleString():
                raise ValueError(
                    f"schema evolution is additive-only: column {f.name!r} "
                    f"is {where} as {have.simpleString()} but this "
                    f"batch writes {f.dataType.simpleString()} — rewrite "
                    "the batch (cast) or create a new table; a type change "
                    "would make every cross-commit read fail with "
                    "CANNOT_MERGE_SCHEMAS"
                )
        return new_fields

    def _write_commit_stats(self, commit_path: str,
                            data_files: list[str]) -> None:
        """Record per-commit column min/max into ``_bic_stats.json`` inside
        the commit dir — the manifest-stats analogue of Iceberg's file
        metrics, harvested the same way Iceberg does: from the already-
        written parquet FOOTERS (row-group statistics), so the batch is
        never recomputed — the cost is one metadata read per data file.
        The underscore prefix keeps the file invisible to Spark's
        data-file listing; co-locating stats with data (not in the
        snapshot json) means they survive snapshot expiry for as long as
        the dir itself is live. Non-parquet commit formats skip stats
        (pruning then keeps their dirs — never lossy). ``data_files`` are
        the commit's data files, from the walk ``_write_commit`` makes of
        the written tree.
        """
        if self._file_format() != "parquet":
            return
        lo: dict = {}
        hi: dict = {}
        # A column's recorded [min, max] claims to cover the WHOLE commit
        # dir: if even one row group of one file fails to yield usable
        # bounds for it (missing/truncated stats, undecodable binary,
        # non-prunable logical type), the column's partial bounds would be
        # silently narrower than the data and _prune_dirs could drop a dir
        # that holds matching rows. Track those columns and omit them
        # entirely — _prune_dirs' "col not in stats" path then keeps the
        # dir conservatively.
        bad: set = set()
        for fpath in data_files:
            md = pq.ParquetFile(fpath).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    try:
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            bad.add(name)
                            continue
                        mn, mx = st.min, st.max
                    except Exception:
                        # stats not extractable for this physical type
                        # (pyarrow raises on some logical annotations)
                        bad.add(name)
                        continue
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode(), mx.decode()
                        except UnicodeDecodeError:
                            bad.add(name)
                            continue
                    if not isinstance(mn, (int, float, str)):
                        bad.add(name)  # timestamps/decimals: not prunable
                        continue
                    lo[name] = mn if name not in lo else min(lo[name], mn)
                    hi[name] = mx if name not in hi else max(hi[name], mx)
        stats = {c: [lo[c], hi[c]] for c in lo if c not in bad}
        if not stats:
            return
        with open(os.path.join(commit_path, "_bic_stats.json"), "w") as f:
            json.dump(stats, f)

    def _prune_dirs(self, dirs: list[str], prune: dict) -> list[str]:
        """Commit dirs whose recorded [min, max] can intersect every
        ``col: (lo, hi)`` bound (None = open end). Dirs without stats (or
        without the column) are kept — pruning must never be lossy."""
        out = []
        for d in dirs:
            keep = True
            try:
                with open(os.path.join(d, "_bic_stats.json")) as f:
                    stats = json.load(f)
            except (FileNotFoundError, ValueError):
                out.append(d)
                continue
            for col, (lo, hi) in prune.items():
                if col not in stats:
                    continue
                smin, smax = stats[col]
                if (hi is not None and smin is not None and smin > hi) or (
                    lo is not None and smax is not None and smax < lo
                ):
                    keep = False
                    break
            if keep:
                out.append(d)
        return out

    # -- MERGE (row-level upsert) -----------------------------------------

    def merge(self, updates: DataFrame, keys: list[str],
              tiebreak: str | None = None,
              batch_id: int | None = None,
              branch: str = "main") -> None:
        """MERGE INTO this table: matched keys update, unmatched insert.

        Read the head snapshot → operators/merge.merge_upsert → one
        overwrite commit that replaces the dirs it read — the same
        copy-on-write plan Iceberg builds internally, with time travel
        preserved (the pre-merge snapshot remains readable via
        read(as_of=...)) and an append landing meanwhile kept.

        ``branch`` stages the merge on a WAP branch instead of main (r09
        ADVICE: WAP-staged maintenance — e.g. a MERGE audited before
        publish — is legitimate; Iceberg routes DML through the same
        ``spark.wap.branch`` session conf as appends): the upsert reads
        the BRANCH head and commits back to the branch.
        """
        # project updates to THEIR OWN data columns only — merge_upsert
        # null-fills target columns the update batch predates (schema
        # evolution), and rejects columns the target lacks
        upd_cols = [c for c in updates.columns if not c.startswith("_p_")]
        head = self._log.head(branch)
        live, dirs = self._live_rows(head)
        merged = merge_upsert(
            live, updates.select(*[qcol(c) for c in upd_cols]),
            keys, tiebreak=tiebreak,
        )
        self._write_commit(merged, operation="overwrite", batch_id=batch_id,
                           branch=branch, replaces=dirs, head=head)

    # -- time travel / maintenance ----------------------------------------

    def snapshots(self) -> DataFrame:
        """The table's snapshot history (the snapshot-log equivalent of
        Iceberg's ``<table>.snapshots`` metadata table)."""
        rows = [
            (s["snapshot_id"], s.get("parent_id"), s["timestamp_ms"],
             s["operation"], s.get("batch_id"), len(s["live"]))
            for s in self._log.snapshots()
        ]
        schema = StructType.fromDDL(
            "snapshot_id BIGINT, parent_id BIGINT, timestamp_ms BIGINT, "
            "operation STRING, batch_id BIGINT, n_live_commits INT"
        )
        # one Arrow table, so the frame is a LocalRelation (no Python worker)
        return self.spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows],
            schema=to_arrow_schema(schema),
        ), schema=schema)

    def current_snapshot_id(self, branch: str = "main") -> int:
        """Head snapshot id of ``branch`` (0 = no commits). Callers that
        need a time-travel anchor should capture THIS after a commit
        instead of assuming sequential ids: SnapshotLog happens to issue
        1, 2, 3, … but the real Iceberg runtime issues random longs (r09
        ADVICE — a literal ``as_of=1`` silently misreads there)."""
        return self._log.current_id(branch)

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: current head) with a stable name —
        Iceberg's ``CREATE TAG`` ref. Tagged snapshots survive
        ``expire_snapshots`` until the tag is dropped, so a tag is the
        durable handle for "the exact table state release X trained on".
        """
        return self._log.set_tag(name, snapshot_id)

    def drop_tag(self, name: str) -> None:
        self._log.drop_tag(name)

    def tags(self) -> dict[str, int]:
        """Tag name -> snapshot id (Iceberg's ``<table>.refs`` metadata)."""
        return dict(self._log.refs())

    def publish(self, branch: str) -> int:
        """Fast-forward main to ``branch``'s head — the publish step of
        write-audit-publish (Iceberg's ``fast_forward`` procedure).
        Raises ``CommitConflict`` if main advanced through any other
        route since the branch forked (rebase by re-staging). Returns
        the publish snapshot id."""
        return self._log.publish(branch)

    def drop_branch(self, branch: str) -> list[int]:
        """Delete a staged branch and the data only it references — the
        audit-failed arm of write-audit-publish; main is untouched.
        Returns the unlinked snapshot ids."""
        return self._log.drop_branch(branch)

    def rollback(self, snapshot_id: int, branch: str = "main") -> None:
        """Restore an earlier snapshot's live set as a NEW snapshot (history
        is append-only — Iceberg's rollback_to_snapshot semantics).
        ``branch`` lands the restoring snapshot on a WAP branch (r09
        ADVICE: stageable maintenance)."""
        self._log.commit("rollback", [], rollback_to=snapshot_id,
                         branch=branch)

    def delete(self, condition: str, branch: str = "main") -> None:
        """Row-level DELETE (SQL predicate string) — the GDPR/right-to-be-
        forgotten path: a copy-on-write overwrite commit of the survivors;
        pre-delete snapshots remain until expire_snapshots reclaims them —
        matching Iceberg semantics, where hard erasure = DELETE + expire.
        ``branch`` stages the delete on a WAP branch (r09 ADVICE).
        """
        # coalesce: SQL DELETE removes only cond=TRUE rows; a bare
        # NOT(cond) would also drop rows where cond is NULL (NOT NULL is
        # NULL, filtered) — silent data loss vs Iceberg's DELETE FROM
        head = self._log.head(branch)
        live, dirs = self._live_rows(head)
        survivors = live.where(f"NOT coalesce(({condition}), false)")
        self._write_commit(survivors, operation="delete", branch=branch,
                           replaces=dirs, head=head)

    def compact(self, zorder_by: list[str] | None = None,
                branch: str = "main") -> None:
        """Rewrite the table's live data as ONE fresh commit (Iceberg's
        rewrite_data_files): N streaming micro-commits × P partitions of
        small files collapse to ``num_partitions`` right-sized files, while
        every pre-compaction snapshot stays readable (the rewrite is just
        another snapshot; reclaim space afterwards with expire_snapshots).

        The 100 TB motivation: a 15 s-trigger stream commits ~5 760
        snapshots/day; unmaintained, file count — not data size — becomes
        the scan bottleneck (driver-side file listing + per-file open
        cost). Compaction is the amortizing counterpart of the sink's
        hash-distribution on write. The rewrite replaces only the dirs it
        read, so appends that land meanwhile stay live. ``branch`` stages
        the rewrite on a WAP branch (r09 ADVICE: stageable maintenance).
        """
        head = self._log.head(branch)
        live, dirs = self._live_rows(head)
        cluster = zorder_key(live, zorder_by) if zorder_by else None
        self._write_commit(live, operation="replace", cluster_expr=cluster,
                           branch=branch, replaces=dirs, head=head)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop history older than the newest ``keep_last`` snapshots and
        physically remove data no retained snapshot references (Iceberg's
        expire_snapshots maintenance procedure). Returns snapshots expired."""
        expired, _ = self._log.expire(keep_last)
        return len(expired)

    # -- streaming path (A1 streaming + A7 checkpoint) ---------------------

    def write_stream(self, df: DataFrame, checkpoint: str,
                     trigger_override: dict | None = None):
        """Micro-batch streaming write with exactly-once checkpointing.

        The reference checkpoints its unflushed buffer (A7); Spark instead
        replays from source offsets recorded in ``checkpointLocation``, and
        the snapshot commit records each micro-batch's id — a replayed
        batch (restart after commit, before checkpoint ack) is detected in
        the log and skipped, closing the duplicate window the reference's
        never-updated ``last_committed_batch`` leaves open
        (connector.py:137). Iceberg's native streaming sink carries the
        same batch-id dedup in its snapshot summaries.

        ``trigger_override`` replaces the config's processing-time trigger
        (e.g. ``{"availableNow": True}`` to drain a bounded source).

        CONTRACT — one logical stream per table: the dedup key is the raw
        micro-batch epoch, which makes exactly-once survive even
        CHECKPOINT LOSS (a fresh checkpoint replaying the source from
        scratch re-issues epochs 0..N and every one is skipped — pinned
        in tests/test_lake_snapshots.py), the reference's A7 posture and
        strictly stronger than vanilla Spark's checkpoint-scoped
        guarantee. The flip side: a SECOND independent streaming query
        writing the same table would collide on those same epoch numbers
        and lose batches — multi-stream ingestion must fan in upstream
        (union the sources into one query), write to distinct WAP
        branches, or use batch ``append(batch_id=)`` with caller-managed
        disjoint id ranges.
        """
        trigger = trigger_override or self.config.trigger()

        def _commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if self._replayed_batch(epoch_id):
                return  # replayed micro-batch — already committed
            self.append(batch_df, batch_id=epoch_id)

        return (
            df.writeStream.foreachBatch(_commit_batch)
            .trigger(**trigger)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def _replayed_batch(self, epoch_id: int) -> bool:
        """Replay-dedup check: whether ``epoch_id`` is committed
        (``SnapshotLog.committed_batch_ids``). Every head carries its
        lineage's batch ids, so this reads the newest v-file and the heads
        it names, at any history length, and a fresh sink instance sees
        the same ids as a long-running one. An id whose snapshot has since
        been EXPIRED stays committed: its data was reclaimed by retention
        on purpose, and re-appending a replay would resurrect it.
        """
        return (self.table_exists()
                and epoch_id in self._log.committed_batch_ids())

    def write_stream_merge(self, df: DataFrame, checkpoint: str,
                           keys: list[str],
                           order_by: str | list[str] | None = None,
                           trigger_override: dict | None = None):
        """Streaming UPSERT: each micro-batch MERGEs into the table on
        ``keys`` — the Spark CDC idiom (foreachBatch + MERGE INTO) that
        turns a changelog stream into its latest-state table, which plain
        ``write_stream`` (append-only, like the reference's sink) cannot
        express.

        ``order_by`` picks the within-batch winner when one micro-batch
        carries several changes for a key (latest ``order_by`` wins;
        required for correctness on compacted changelogs — MERGE forbids
        duplicate source keys). Replay safety: batch ids are recorded in
        the snapshot log exactly as in write_stream, so a replayed
        micro-batch after a crash is detected and skipped instead of
        double-merged.
        """
        trigger = trigger_override or self.config.trigger()
        order = [order_by] if isinstance(order_by, str) else order_by

        def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if self._replayed_batch(epoch_id):
                return  # replayed micro-batch — already merged
            if order:
                batch_df = latest_per_key(batch_df, keys, order)
            self.ensure_table(batch_df)
            self.merge(batch_df, keys, batch_id=epoch_id)

        return (
            df.writeStream.foreachBatch(_merge_batch)
            .trigger(**trigger)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def read_incremental(self, from_snapshot: int,
                         to_snapshot: int | None = None) -> DataFrame:
        """Rows APPENDED after ``from_snapshot`` up to ``to_snapshot``
        (default head) — Iceberg's incremental scan, the consumer-side
        complement of the streaming sink: a downstream job processes only
        each new commit's files instead of re-scanning the table.

        Only append deltas are expressible this way (a replacing commit —
        overwrite/delete/compaction — rewrites the live set); like
        Iceberg's append-only incremental read, this raises if the range
        crosses a replacing snapshot.
        """
        log = self._log
        to = log.head() if to_snapshot is None else log.snapshot(to_snapshot)
        head = 0 if to is None else to["snapshot_id"]
        # walk the ACTUAL lineage (parent chain), not the raw id range:
        # snapshot ids interleave across branches and expire()/
        # drop_branch() punch holes in the sequence — iterating raw ids
        # would crash on a hole and wrongly veto on an unrelated branch's
        # replacing commit
        for sid in log.ancestors(head):
            if sid <= from_snapshot:
                break
            snap = log._maybe_snapshot(sid)
            if snap is None:
                # retention punched a hole INSIDE the range (possible when
                # from_snapshot survives only via a tag): the expired
                # snapshot might have been a replacing commit, so the
                # append-only guarantee is unverifiable — fail with an
                # actionable error instead of the raw LookupError this
                # path used to escape with (or, worse, a silent diff)
                raise ValueError(
                    f"snapshot {sid} inside the incremental range "
                    f"({from_snapshot}, {head}] was expired; append-only "
                    "verification is impossible — re-baseline the consumer "
                    "from a retained snapshot"
                )
            op = snap["operation"]
            if op in _REPLACING_OPS | {"rollback"}:
                raise ValueError(
                    f"snapshot {sid} is a replacing commit ({op}); "
                    "incremental append-scan is undefined across it"
                )
        base = set(log.live_commits(from_snapshot))
        new = [c for c in ([] if to is None else to["live"])
               if c not in base]
        dirs = [os.path.join(log.data_dir, c) for c in new]
        # layout-aware: an incremental range can cross a partition-spec
        # evolution (evolve is metadata-only, not a replacing commit)
        return self._load_commit_dirs(dirs, log.table_state(to))

    # -- read-back ---------------------------------------------------------

    def changes(self, from_snapshot: int,
                to_snapshot: int | None = None) -> DataFrame:
        """Row-level changelog between two snapshots — every row with a
        ``_change_type`` of ``insert`` or ``delete`` (an update appears as
        its old row deleted + new row inserted), like Iceberg's
        ``create_changelog_view`` / Delta's change data feed.

        General form: works across ANY commit sequence (appends, MERGE,
        DELETE, overwrite) by multiset-diffing the two snapshot reads —
        two scans + one hash shuffle each (exceptAll). For append-only
        ranges prefer ``read_incremental`` (file-level, no diff shuffle);
        this is the correct-for-everything fallback, and at 100 TB you'd
        bound it by diffing only the partitions the log says were touched.
        """
        # each side reads its own snapshot's columns, so a column added
        # between the two snapshots exists on one side only — null-fill
        # it on the other (both directions), exactly how the evolved read
        # null-fills pre-evolution rows. (Found by the lake model's CDC
        # closure: changes() across an append_evolved crashed
        # UNRESOLVED_COLUMN on the pre-evolution side.)
        old = self.read(as_of=from_snapshot)
        new = self.read(as_of=to_snapshot)
        new_types = dict(new.dtypes)
        old_types = dict(old.dtypes)
        for c, t in new_types.items():
            if not c.startswith("_p_") and c not in old_types:
                old = old.withColumn(c, F.lit(None).cast(t))
        for c, t in old_types.items():
            if not c.startswith("_p_") and c not in new_types:
                new = new.withColumn(c, F.lit(None).cast(t))
        data_cols = [c for c in new.columns if not c.startswith("_p_")]
        old, new = (old.select(*[qcol(c) for c in data_cols]),
                    new.select(*[qcol(c) for c in data_cols]))
        return (
            new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
            .unionByName(
                old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
            )
        )

    def snapshot_as_of_timestamp(self, ts_ms: int) -> int | None:
        """Latest snapshot committed at or before ``ts_ms`` (epoch millis)
        — the resolution step behind ``TIMESTAMP AS OF``. None if the
        table had no commits yet at that time."""
        # MAIN lineage only: staged WAP-branch commits and detached
        # tag survivors must never resolve from a wall-clock read —
        # TIMESTAMP AS OF on unpublished data would expose rows main
        # never showed
        ids = [
            s["snapshot_id"] for s in self._log.snapshots()
            if s["timestamp_ms"] <= ts_ms
            and s.get("branch", "main") == "main"
        ]
        return max(ids, default=None)

    def read(self, as_of: int | None = None,
             as_of_timestamp_ms: int | None = None,
             tag: str | None = None,
             branch: str | None = None,
             prune: dict | None = None,
             with_spec_id: bool = False) -> DataFrame:
        """Read the table; ``as_of`` pins a snapshot id (time travel —
        Iceberg ``VERSION AS OF``) and ``as_of_timestamp_ms`` pins the
        latest snapshot at or before a wall-clock instant (``TIMESTAMP AS
        OF``); ``tag`` pins a named ref (``VERSION AS OF 'tag'`` — see
        :meth:`tag`).

        The schema comes from metadata, never from data files (Iceberg's
        rule): the union of the read commits' recorded fields, so columns
        ADDED by later batches surface with nulls for older rows — the
        additive schema evolution the reference forbids ("Static schemas
        only", reference README.md:68) — and a snapshot from before an
        add reads without the column. Building the frame runs no Spark
        job.

        ``prune={"col": (lo, hi)}`` skips whole commit dirs whose
        recorded min/max stats cannot intersect the bounds (None = open
        end) — the manifest-pruning analogue of Iceberg's file metrics.
        Pruning restricts which FILES are read; callers still apply their
        row filter (same contract as partition pruning).

        ``with_spec_id=True`` adds Iceberg's ``_spec_id`` metadata column
        — the spec each row's commit was written under.

        ``branch`` reads a staged branch's head (Iceberg's
        ``VERSION AS OF 'branch'``) — the audit step of
        write-audit-publish reads exactly what :meth:`publish` would make
        visible on main.
        """
        check_one_pin(as_of, as_of_timestamp_ms, tag, branch)
        log = self._log
        if as_of_timestamp_ms is not None:
            as_of = self.snapshot_as_of_timestamp(as_of_timestamp_ms)
            if as_of is None:
                raise ValueError(
                    f"no snapshot existed at timestamp {as_of_timestamp_ms}"
                )
        if tag is not None:
            as_of = log.resolve_tag(tag)
        if as_of is not None:
            snap = log.snapshot(as_of) if as_of else None
        else:
            snap = log.head(branch or "main")
            if branch is not None and (
                    snap is None or snap.get("branch", "main") != branch):
                raise LookupError(f"branch {branch!r} has no commits")
        # the live list and the table state come from the one v-file
        dirs = [] if snap is None else log.commit_paths(snap=snap)
        if prune:
            dirs = self._prune_dirs(dirs, prune)
        return self._load_commit_dirs(dirs, log.table_state(snap),
                                      with_spec_id=with_spec_id)

    def _load_commit_dirs(self, dirs: list[str], state: dict,
                          with_spec_id: bool = False) -> DataFrame:
        """Load commit dirs, layout-aware. Commits written under different
        partition specs carry different ``_p_*`` directory keys; Spark's
        partition discovery rejects mixed layouts under one load, so scan
        each spec's dirs separately and union with null-fill — exactly
        how Iceberg reads across spec boundaries (each manifest knows
        its own spec).

        Each scan is handed its schema — the union of its commits'
        recorded ``fields`` in first-appearance order, oldest commit
        first — so no read infers one from parquet footers, and the scan
        sees exactly the columns its commits wrote (a snapshot from
        before a column add reads without it). Writes are additive-only
        (_check_write_schema), so the union never holds two types for
        one name. ``_p_*`` and ``_c`` stay out of the given schema:
        partition discovery adds them from the directory names.

        ``with_spec_id=True`` materializes Iceberg's ``_spec_id`` metadata
        column (the spec each row's commit was written under) — the ONLY
        robust way to attribute a row to its layout era: classifying by
        ``_p_* IS NOT NULL`` misattributes rows whose partition VALUE is
        legitimately NULL (r06 adversarial find).

        Commits with ZERO data files (``n_files`` in the marker) are
        skipped before the scan: a partitioned write of an EMPTY frame (a
        delete-all's survivor commit, an empty micro-batch) produces a
        fileless dir that made every later read die with
        UNABLE_TO_INFER_SCHEMA (r06 model-based find); a fileless commit
        contributes no rows by construction, and an all-empty dir list
        reads as the declared-schema empty frame."""
        declared = StructType.fromJson(state["schema_json"])

        def _marker(d: str) -> dict:
            try:
                with open(os.path.join(d, "_bic_spec.json")) as f:
                    return json.load(f)
            except (FileNotFoundError, ValueError) as exc:
                # marker writes are atomic (rename-in) and precede the
                # commit, so a referenced dir always carries a whole
                # marker: a missing or unparseable one means EXTERNAL
                # damage, and guessing would mis-read the commit's
                # layout and fields or skip the esc_pcols recompute
                # (marker values leaking into reads). Refuse loudly.
                raise ValueError(
                    f"corrupt commit marker {d}/_bic_spec.json — external "
                    "damage; restore the file or expire the snapshot(s) "
                    f"referencing this commit: {exc}"
                ) from exc

        markers = {d: _marker(d) for d in dirs}
        markers = {d: m for d, m in markers.items() if m["n_files"] > 0}
        if not markers:
            empty = _empty_frame(self.spark, declared)
            if with_spec_id:
                empty = empty.withColumn(
                    "_spec_id", F.lit(None).cast("int")
                )
            return empty

        def _load(group: list[str], spec_id: int) -> DataFrame:
            fields: dict[str, StructField] = {}
            for d in group:
                for f in map(StructField.fromJson, markers[d]["fields"]):
                    fields.setdefault(f.name, f)
            reader = (
                self.spark.read.option("basePath", self._log.data_dir)
                .schema(StructType(list(fields.values())))
            )
            # `_c` is the commit-dir partition component — implementation
            # detail, dropped from the user-visible schema
            df = reader.format(self._file_format()).load(group).drop("_c")
            # markers record the LOGICAL (unescaped) column names
            esc = {c for d in group for c in markers[d].get("esc_pcols", [])}
            df = self._restore_pcols(df, spec_id, esc, state)
            if with_spec_id:
                df = df.withColumn("_spec_id", F.lit(spec_id).cast("int"))
            return df

        # group by (spec_id, partition layout) as written at commit time:
        # the per-manifest spec id of Iceberg
        groups: dict[tuple, list[str]] = {}
        for d, m in markers.items():
            groups.setdefault((m["spec_id"], *m["pcols"]), []).append(d)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [_load(group, key[0]) for key, group in sorted(groups.items())],
        )

    def _restore_pcols(self, df: DataFrame, spec_id: int,
                       esc_cols: set, state: dict) -> DataFrame:
        """Make directory-decoded ``_p_*`` columns exact again (r10
        hostile-partition-values sweep):

        1. CAST each to its DECLARED type. Partition-dir type inference is
           disabled session-wide (a string value "0123" inferred as int
           123 loses the leading zero before any cast can help), so every
           ``_p_*`` arrives as the exact literal string and the cast to
           the declared transform type (timestamp for day-truncs, int for
           buckets, ...) is lossless. String-typed columns skip the no-op
           cast so their dir-level PartitionFilters pruning is untouched.
        2. RECOMPUTE columns the write side flagged as escape-encoded
           (``esc_pcols`` in the commit marker): their dir values are
           injective markers, not data; the transform over the in-file
           source columns reproduces the exact logical value for every
           row — hostile or clean — at projection cost. Only flagged
           commits pay this (and lose dir-pruning on that column); clean
           commits keep the raw dir column and full pruning.
        """
        declared = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(state["schema_json"]).fields
        }
        dtypes = dict(df.dtypes)
        # the spec the commit group was written under, from the read
        # snapshot's map of every spec id issued so far
        fields = {
            f"_p_{f.field_name}": f
            for f in as_fields(state["specs"].get(str(spec_id), []))
        }

        def _spec_type(c: str) -> str | None:
            """Transform-derived type for _p_ columns the schema missed:
            init_table declares the ORIGINAL spec's _p_ columns,
            but spec EVOLUTION adds new layout columns only to the data
            dirs — without this fallback a post-evolution bucket column
            silently regressed from int to string once dir inference
            went off (r10 self-review find)."""
            f = fields.get(c)
            if f is None:
                return None
            kind, _ = parse_transform(f.transform)
            if kind == "bucket":
                return "int"
            if kind in ("year", "month", "day", "hour"):
                return "timestamp"
            if kind in ("identity", "truncate"):
                return dtypes.get(f.source)
            return None  # void: stays null

        for c in df.columns:
            if not c.startswith("_p_"):
                continue
            want = declared.get(c) or _spec_type(c)
            if want and dtypes.get(c) != want:
                df = df.withColumn(c, qcol(c).cast(want))
        for c in sorted(esc_cols):
            f = fields.get(c)
            if f is not None and f.source in df.columns:
                df = df.withColumn(
                    c,
                    transform_column(
                        f.source, f.transform, dtypes.get(f.source, "")
                    ),
                )
        return df

    # -- partition evolution ----------------------------------------------

    def evolve_partition_spec(
        self, new_spec: list[PartitionField | tuple | list]
    ) -> None:
        """Change the table's partition spec WITHOUT rewriting any data
        (Iceberg partition evolution, a metadata-only operation): commits
        after this call lay files out under the new transforms; history
        and time travel keep every older commit in its original layout,
        and :meth:`read` unions across spec boundaries with null-fill on
        the layout columns — the split-planning behavior of Iceberg's
        per-manifest spec ids.
        """
        fields = as_fields(new_spec)
        if not self._log.exists():
            raise ValueError(
                "cannot evolve the partition spec of a table that does not "
                "exist yet — set config.partition_spec for creation instead"
            )
        self._log.evolve_spec(
            [[f.source, f.transform, f.field_name] for f in fields]
        )
