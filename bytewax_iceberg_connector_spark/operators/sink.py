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

Two backends behind one API:
- **iceberg** (when iceberg-spark-runtime is on the classpath): real hidden
  partitioning, snapshot commits, `commit.retry.num-retries` for the
  reference's optimistic-commit loop (connector.py:242-257), MERGE INTO,
  `VERSION AS OF` time travel. Exercised by tests/test_iceberg_backend.py
  whenever the runtime is present (no network/jar in the CI container —
  the suite is capability-gated, not skipped by choice).
- **parquet warehouse** (always available; the test default): hive-style
  layout under ``warehouse/table/data/_c=<commit>/`` with partition
  transforms from operators/partitioning.py materialized as ``_p_*``
  directory columns, PLUS a real snapshot log (operators/snapshots.py)
  giving the same co-location/pruning properties AND atomic commits,
  snapshot isolation, time travel, rollback and streaming exactly-once —
  so the Iceberg *contract* is proven under test even where the runtime
  cannot load.

Scale: the append path repartitions by partition key before writing
(`write.distribution-mode=hash` equivalent) so 1000 executors produce
|partitions| files per commit, not |executors|×|partitions| small files.
Snapshot JSONs carry the cumulative commit list — O(commits); real Iceberg's
manifest lists make this O(1), the documented small-scale trade-off.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from ..config import IcebergSinkConfig
from ..functions.zorder import zorder_key
from .merge import merge_upsert
from .partitioning import (
    ESC_MARK,
    PartitionField,
    encode_hostile_pcol,
    parse_transform,
    partition_columns,
    partition_key,
    qcol,
    qname,
    transform_column,
    unescape_path_name,
)
from .snapshots import SnapshotLog


def _iceberg_transform_sql(f: PartitionField) -> str:
    """Render a PartitionField as Iceberg DDL transform syntax
    (``days(ts)``, ``bucket(16, id)``, ``col``). ``void`` has no DDL
    partition-field form — rejecting it here is correct (Iceberg models
    void as a DROPPED field, not an addable one)."""
    kind, param = parse_transform(f.transform)
    if kind == "identity":
        return f.source
    if kind in ("year", "month", "day", "hour"):
        return f"{kind}s({f.source})"
    if kind in ("bucket", "truncate"):
        return f"{kind}({param}, {f.source})"
    raise ValueError(
        f"transform {f.transform!r} has no Iceberg DDL partition-field form"
    )


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when iceberg-spark-runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


#: commit operations whose snapshot REPLACES the live set (vs appending)
_REPLACING_OPS = frozenset({"overwrite", "replace", "delete"})


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
    connector.py:456-468) maps to ``repartition(num_partitions, keys)``; its
    dual size/time flush trigger (A4, connector.py:187-191) maps to the
    streaming trigger interval (time) + the source admission cap compiled
    from ``batch_size`` (config.source_admission_options) — together the
    same "flush at N records or T seconds" envelope.
    """

    def __init__(self, spark: SparkSession, config: IcebergSinkConfig) -> None:
        if not isinstance(config, IcebergSinkConfig):
            # parity: IcebergSink.__init__ validates config type
            # (connector.py:451-454)
            raise TypeError("config must be an IcebergSinkConfig")
        # defensive runtime conf on DRIVER-PROVIDED sessions: the read
        # path's _restore_pcols contract assumes partition-dir type
        # inference is OFF (a string partition value "0123" inferred as
        # int 123 is lossy before any cast) — a session built by
        # get_spark already has it, but a user driving the sink directly
        # on a vanilla session would silently re-enter the lossy path
        from ..session import ensure_engine_conf

        ensure_engine_conf(spark)
        self.spark = spark
        self.config = config
        self.backend = "iceberg" if iceberg_runtime_available(spark) else "parquet"
        if self.backend == "iceberg":
            for k, v in config.spark_catalog_conf().items():
                spark.conf.set(k, v)

    # -- identity ----------------------------------------------------------

    @property
    def _spec(self) -> list[PartitionField]:
        # an existing parquet-backend table owns its spec (it may have
        # EVOLVED past the config since creation — evolve_partition_spec);
        # config only seeds the spec at create time. Real Iceberg likewise
        # reads the spec from table metadata, never from writer config.
        if self.backend == "parquet" and self._log.exists():
            meta_spec = self._log.table_meta().get("partition_spec")
            if meta_spec is not None:
                return [PartitionField(*f) for f in meta_spec]
        return [PartitionField(*f) if not isinstance(f, PartitionField) else f
                for f in (self.config.partition_spec or [])]

    @property
    def _qualified(self) -> str:
        return f"{self.config.catalog_name}.{self.config.table_name}"

    @property
    def _path(self) -> str:
        # config.location wins when declared (reference connector.py:380-386
        # creates at an explicit location); else warehouse/db/table
        if self.config.location:
            return self.config.location
        wh = self.config.warehouse_path or "/tmp/bic_spark_warehouse"
        return os.path.join(wh, *self.config.table_name.split("."))

    @property
    def _log(self) -> SnapshotLog:
        return SnapshotLog(self._path)

    def _file_format(self) -> str:
        """Data file format for the parquet-warehouse backend (A20
        ``file_format``: the reference writes the configured format via
        pyiceberg, models.py:16-24). parquet and orc are Spark built-ins;
        avro needs the external spark-avro package — raise the same
        explicit config error the reference's enum gives rather than
        silently writing a different format.
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
        if self.backend == "iceberg":
            return self.spark.catalog.tableExists(self._qualified)
        return self._log.exists()

    # -- A9: load-or-create ------------------------------------------------

    def _declared_schema(self) -> StructType | None:
        """Schema from config.table_schema DDL (A9: the reference creates
        from the declared schema when the table is missing,
        connector.py:380-392)."""
        if not self.config.table_schema:
            return None
        return StructType.fromDDL(self.config.table_schema)

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
            declared = self._declared_schema()
            if declared is None:
                raise ValueError(
                    "table is missing and no schema is available: pass a "
                    "DataFrame or set config.table_schema (reference "
                    "connector.py:389-392 parity)"
                )
            like = _empty_frame(self.spark, declared)
        if self.backend == "iceberg":
            from pyspark.sql.functions import col, partitioning as PT

            _tf = {
                "year": PT.years, "month": PT.months,
                "day": PT.days, "hour": PT.hours,
            }
            parts = []
            for f in self._spec:
                kind, param = parse_transform(f.transform)
                if kind == "identity":
                    parts.append(col(f.source))
                elif kind in _tf:
                    parts.append(_tf[kind](col(f.source)))
                elif kind == "bucket":
                    parts.append(PT.bucket(param, col(f.source)))
                else:
                    # NEVER silently degrade to identity — bucket[16] on a
                    # high-cardinality key as identity is a partition
                    # explosion that can only be fixed by rewriting
                    raise ValueError(
                        f"transform {f.transform!r} has no writeTo"
                        " partitionedBy form; create the table via SQL DDL"
                        " (config.table_schema + PARTITIONED BY"
                        f" ({kind}({param}, {f.source})))"
                    )
            writer = like.limit(0).writeTo(self._qualified)
            for k, v in self.config.table_properties().items():
                writer = writer.tableProperty(k, v)
            if parts:
                writer = writer.partitionedBy(*parts)
            writer.create()
            if self.config.sort_order:
                # reference applies sort_order at creation (connector.py:
                # 382-392); Iceberg's writer then sorts every future append
                order = ", ".join(self.config.sort_order)
                self.spark.sql(
                    f"ALTER TABLE {self._qualified} WRITE ORDERED BY ({order})"
                )
            return
        keyed = partition_key(like.limit(0), self._spec)
        self._log.init_table(
            {
                "table_name": self.config.table_name,
                "schema_json": keyed.schema.jsonValue(),
                "partition_spec": [
                    [f.source, f.transform, f.field_name] for f in self._spec
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
        become: compute transform columns → hash-repartition on them →
        (sort within partitions per config.sort_order) → columnar write →
        ONE snapshot commit (operators/snapshots.py), optimistic-retried
        exactly like the reference's commit loop (connector.py:242-257).

        ``branch`` stages the commit on a named ref instead of main (the
        write step of write-audit-publish — Iceberg's ``spark.wap.branch``
        session conf): main readers never see the rows until
        :meth:`publish`; :meth:`drop_branch` is the audit-failed arm. On
        the iceberg backend the runtime routes branch writes through the
        ``spark.wap.branch`` session conf — this method VERIFIES the conf
        matches the requested branch and raises otherwise: silently
        appending to main would defeat exactly the isolation the
        parameter promises (staged rows visible to main readers before
        audit).
        """
        self.ensure_table(df)
        if self.backend == "iceberg":
            self._assert_wap_routing("append", branch=branch)
            df.writeTo(self._qualified).append()
            return
        self._write_commit(df, operation="append", batch_id=batch_id,
                           branch=branch)

    def _assert_wap_routing(self, operation: str, branch: str = "main") -> None:
        """Two-directional ``spark.wap.branch`` verification for EVERY
        iceberg write entry point (r08 ADVICE: guarding only append left
        overwrite/merge/delete/compact/rollback silently redirectable).
        The runtime routes iceberg writes by the SESSION conf, not by our
        ``branch`` argument, so both mismatches are silent mis-routing: a
        branch write without the conf commits straight to main (staged
        rows visible before audit), and a main-intended write with the
        conf still set lands on the WAP branch (rows the caller believes
        committed never reach main readers)."""
        if self.backend != "iceberg":
            return
        wap = self.spark.conf.get("spark.wap.branch", None)
        if branch != "main" and wap != branch:
            raise ValueError(
                f"{operation}(branch={branch!r}) on the iceberg backend "
                "requires spark.wap.branch to be set to that branch "
                f"(currently {wap!r}) — without it the runtime "
                "would commit straight to main and the staged rows "
                "would be visible before the audit step"
            )
        if branch == "main" and wap:
            raise ValueError(
                f"{operation}() targets main but spark.wap.branch={wap!r} "
                "is set — the runtime would silently route the write to "
                "that branch instead of main; unset the conf or stage "
                "explicitly via append(branch=...)"
            )

    @staticmethod
    def _safe_ref(name: str) -> str:
        """Validate a branch/tag name before it is interpolated into SQL
        on the iceberg backend (r11 ADVICE: an embedded quote broke the
        statement — an injection surface, not just a crash). Iceberg ref
        names are word-like; anything outside the allowlist raises LOUDLY
        instead of reaching the parser. The parquet backend accepts
        arbitrary names (no SQL is built from them), so this guard sits
        only on the SQL-building paths."""
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._\-]*", name or ""):
            raise ValueError(
                f"invalid branch/tag name {name!r}: must match "
                "[A-Za-z0-9][A-Za-z0-9._-]* on the iceberg backend"
            )
        return name

    def _ref(self, branch: str) -> str | None:
        """Branch name → ``read(branch=)`` ref for copy-on-write
        maintenance (parquet backend). ``main`` reads the plain head
        (valid even on an empty table); a branch with NO commits yet
        also reads main's head — its first commit forks from main, so
        maintenance staged on a fresh branch rewrites what it forks
        from, matching Iceberg's ``spark.wap.branch`` fork-on-first-
        write semantics."""
        if branch == "main":
            return None
        return branch if self._log.current_id(branch) else None

    def overwrite(self, df: DataFrame, batch_id: int | None = None,
                  branch: str = "main") -> None:
        """Replace the table contents in one snapshot (the copy-on-write
        commit MERGE compiles to on the parquet backend). ``batch_id``
        tags the snapshot with a caller-meaningful watermark (e.g. the
        base-table snapshot a materialized view was refreshed to).
        ``branch`` stages the replacing commit on a WAP branch (r09
        ADVICE: maintenance is stageable, not append-only — Iceberg
        routes DML through the same ``spark.wap.branch`` conf)."""
        self.ensure_table(df)
        if self.backend == "iceberg":
            self._assert_wap_routing("overwrite", branch=branch)
            df.writeTo(self._qualified).createOrReplace()
            return
        self._write_commit(df, operation="overwrite", batch_id=batch_id,
                           branch=branch)

    def overwrite_partitions(self, df: DataFrame,
                             branch: str = "main") -> None:
        """Dynamic partition overwrite (backfill/restatement): replace ONLY
        the partitions ``df``'s rows fall into, leaving every other
        partition untouched — Iceberg's ``overwritePartitions`` / Spark's
        dynamic-overwrite mode, the idiom for re-running one day of a
        pipeline without touching the rest of the table.

        Parquet backend: copy-on-write — survivors outside the affected
        partitions union the new rows into one replacing commit (history
        stays time-travelable). Iceberg does this with file-level surgery;
        the fallback's whole-table rewrite is the documented small-scale
        trade-off, same as merge().
        """
        self.ensure_table(df)
        if self.backend == "iceberg":
            self._assert_wap_routing("overwrite_partitions", branch=branch)
            df.writeTo(self._qualified).overwritePartitions()
            return
        pcols = partition_columns(self._spec)
        if not pcols:
            # unpartitioned table: replacing "its partitions" = everything
            self.overwrite(df, branch=branch)
            return
        new_keyed = partition_key(df, self._spec)
        affected = new_keyed.select(*[qcol(c) for c in pcols]).distinct()
        current = self.read(branch=self._ref(branch))
        data_cols = [c for c in current.columns if not c.startswith("_p_")]
        # partition membership is LOGICAL — the current spec's transforms
        # over the data columns — not the stored _p_* layout: rows from
        # pre-evolution commits carry other (or no) layout columns, so
        # recompute the key for every live row exactly as Iceberg
        # evaluates the current spec against old files
        cur_keyed = partition_key(
            current.select(*[qcol(c) for c in data_cols]), self._spec
        )
        # NULL-SAFE key match (r10 sweep): plain equality never matches
        # NULL = NULL, so rows in the NULL partition survived the anti
        # join while the new batch still appended — overwriting the NULL
        # partition silently DUPLICATED it instead of replacing it
        from functools import reduce as _reduce

        cur_a = cur_keyed.alias("_bic_cur")
        aff_a = affected.alias("_bic_aff")
        # qname inside the alias qualifier: a dotted/backticked partition
        # field name would otherwise parse as nested access (r10
        # self-review find — the same class qcol fixes elsewhere)
        cond = _reduce(
            lambda a, b: a & b,
            [
                F.col(f"_bic_cur.{qname(c)}").eqNullSafe(
                    F.col(f"_bic_aff.{qname(c)}")
                )
                for c in pcols
            ],
        )
        survivors = cur_a.join(
            F.broadcast(aff_a), on=cond, how="left_anti"
        ).select(*[qcol(c) for c in data_cols])
        # the incoming batch may predate a schema evolution: align by name
        # with null-fill instead of projecting the table's columns out of
        # a frame that never had them (r06 model-test find)
        self._write_commit(
            survivors.unionByName(df, allowMissingColumns=True),
            operation="overwrite", branch=branch,
        )

    def _write_commit(self, df: DataFrame, operation: str,
                      batch_id: int | None = None,
                      cluster_expr=None, branch: str = "main") -> None:
        new_fields = self._check_write_schema(df, branch=branch)
        keyed = partition_key(df, self._spec)
        pcols = partition_columns(self._spec)
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
        name, path = self._log.new_commit_dir()
        w = keyed.write.mode("errorifexists").format(self._file_format())
        if pcols:
            w = w.partitionBy(*pcols)
        w.save(path)
        # ONE walk of the written tree feeds the footer stats, n_files and
        # esc_pcols
        ext = f".{self._file_format()}"
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
        marker = {"spec_id": self._log.current_spec_id()
                  if self._log.exists() else 0,
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
        log = self._log
        sid = log.commit(
            operation, [name],
            overwrite=operation in _REPLACING_OPS, batch_id=batch_id,
            branch=branch,
            # EVERY commit carries its column adds ON the snapshot: branch
            # commits so publish() can fold them into the declared schema
            # (r08 ADVICE: without the fold, a post-publish type-changing
            # main write of a branch-added column passed the additive-only
            # guard and poisoned cross-commit reads); main commits so
            # heal_publish_folds() can re-fold if the evolve_schema below
            # never runs (r11 crash-injection find: a crash in that window
            # reopened the same r08 hole on the main path)
            new_fields=[f.jsonValue() for f in new_fields]
            if new_fields else None,
        )
        # record column adds AFTER the commit succeeds, and only for MAIN
        # commits: a failed write can then never leave a declared column
        # with no data, and a staged WAP branch's new columns don't leak
        # into main's declared shape before publish (snapshots.publish
        # folds the branch-carried new_fields in; reads take each
        # commit's own marker fields, so the declared schema is only
        # the fallback for markers that predate them)
        if new_fields and branch == "main":
            log.evolve_schema([f.jsonValue() for f in new_fields])
            log.retire_fold_flag(sid)  # fold done; crash above → heal

    def _check_write_schema(
        self, df: DataFrame, branch: str = "main"
    ) -> list[StructField]:
        """Write-time schema compatibility (Iceberg's contract: evolution
        is additive; a TYPE change is rejected at write, never stored):
        every batch column that already exists in the table's declared
        schema must keep its type; NEW columns are recorded via
        ``evolve_schema`` (schema union), so later conflicts on evolved
        columns are also caught here. Before this check, a long→double
        rewrite of an existing column committed fine and every subsequent
        read failed with CANNOT_MERGE_SCHEMAS (loud, but the bad commit
        was already in history); now the WRITE fails and history stays
        readable — which is also why the read side's union of commit
        marker fields can never hold two types for one name.
        Nullability is not compared (parquet unions relax it anyway).

        Branch writes ALSO check against the branch's own pending column
        adds (snapshot-carried ``new_fields``): a pending column is as
        binding as a declared one — without this, commit 1 staging ``x``
        as long and commit 2 staging ``x`` as double stored a conflict the
        additive-only contract promises can never be stored.

        Returns the batch's NEW fields; the caller records them via
        ``evolve_schema`` after the data commit succeeds (main commits
        directly; branch commits carry them on the snapshot and
        ``publish`` folds them in — see _write_commit).
        """
        if not self._log.exists():
            return []
        # self-heal torn publish folds BEFORE reading the declared schema:
        # a publish whose fold step crashed left its branch-added columns
        # undeclared, so a type-changing write of one would pass this
        # check as "new" (r09 ADVICE) — folding here closes that window
        # at the next write, the exact moment the declaration matters
        self._log.heal_publish_folds()
        meta = self._log.table_meta()
        declared = StructType.fromJson(meta["schema_json"])
        declared_types = {f.name: f.dataType for f in declared.fields}
        binding = {
            n: (t, "declared") for n, t in declared_types.items()
        }
        if branch != "main":
            for fj in self._log.branch_new_fields(branch):
                binding.setdefault(
                    fj["name"],
                    (StructField.fromJson(fj).dataType,
                     f"staged on branch {branch!r}"),
                )
        new_fields = []
        for f in df.schema.fields:
            have = binding.get(f.name)
            if have is None:
                new_fields.append(f)
            elif f.dataType.simpleString() != have[0].simpleString():
                raise ValueError(
                    f"schema evolution is additive-only: column {f.name!r} "
                    f"is {have[1]} as {have[0].simpleString()} but this "
                    f"batch writes {f.dataType.simpleString()} — rewrite "
                    "the batch (cast) or create a new table; a type change "
                    "would make every cross-commit read fail with "
                    "CANNOT_MERGE_SCHEMAS"
                )
        return new_fields

    def _write_commit_stats(self, commit_path: str,
                            data_files: list[str] | None = None) -> None:
        """Record per-commit column min/max into ``_bic_stats.json`` inside
        the commit dir — the manifest-stats analogue of Iceberg's file
        metrics, harvested the same way Iceberg does: from the already-
        written parquet FOOTERS (row-group statistics), so the batch is
        never recomputed — the cost is one metadata read per data file.
        The underscore prefix keeps the file invisible to Spark's
        data-file listing; co-locating stats with data (not in the
        snapshot json) means they survive snapshot expiry for as long as
        the dir itself is live. Non-parquet commit formats skip stats
        (pruning then keeps their dirs — never lossy). ``data_files`` is
        the commit's files when the caller has already walked the tree.
        """
        if self._file_format() != "parquet":
            return
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
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
        if data_files is None:
            data_files = [os.path.join(root, fn)
                          for root, _dirs, files in os.walk(commit_path)
                          for fn in files]
        for fpath in data_files:
            fn = os.path.basename(fpath)
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
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

        iceberg backend: the real ``MERGE INTO`` statement (copy-on-write /
        merge-on-read per table properties, file-level pruning for free).
        parquet backend: read head snapshot → operators/merge.merge_upsert
        → one overwrite commit — the same copy-on-write plan Iceberg builds
        internally, with time travel preserved (the pre-merge snapshot
        remains readable via read(as_of=...)).

        ``branch`` stages the merge on a WAP branch instead of main (r09
        ADVICE: WAP-staged maintenance — e.g. a MERGE audited before
        publish — is legitimate; Iceberg routes DML through the same
        ``spark.wap.branch`` session conf as appends). Parquet backend:
        the upsert reads the BRANCH head and commits back to the branch.
        """
        if self.backend == "iceberg":
            self._assert_wap_routing("merge", branch=branch)
            if tiebreak is not None:
                # same within-batch winner selection merge_upsert applies
                # on the parquet path — without it, duplicate source keys
                # trip Iceberg's MERGE cardinality check and abort, the
                # opposite outcome of the same call on the fallback
                from pyspark.sql import Window

                w = Window.partitionBy(*[qcol(k) for k in keys]).orderBy(
                    F.desc(qcol(tiebreak))
                )
                updates = (
                    updates.withColumn("_bic_rn", F.row_number().over(w))
                    .where(F.col("_bic_rn") == 1)
                    .drop("_bic_rn")
                )
            updates.createOrReplaceTempView("_bic_merge_src")
            cond = " AND ".join(
                f"t.{qname(k)} = s.{qname(k)}" for k in keys
            )
            self.spark.sql(
                f"MERGE INTO {self._qualified} t USING _bic_merge_src s "
                f"ON {cond} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            return
        current = self.read(branch=self._ref(branch))
        data_cols = [c for c in current.columns if not c.startswith("_p_")]
        # project updates to THEIR OWN data columns only — merge_upsert
        # null-fills target columns the update batch predates (schema
        # evolution), and rejects columns the target lacks
        upd_cols = [c for c in updates.columns if not c.startswith("_p_")]
        merged = merge_upsert(
            current.select(*[qcol(c) for c in data_cols]),
            updates.select(*[qcol(c) for c in upd_cols]),
            keys, tiebreak=tiebreak,
        )
        self.overwrite(merged, batch_id=batch_id, branch=branch)

    # -- time travel / maintenance ----------------------------------------

    def snapshots(self) -> DataFrame:
        """The table's snapshot history (Iceberg's ``<table>.snapshots``
        metadata table; the snapshot-log equivalent on parquet)."""
        if self.backend == "iceberg":
            return self.spark.sql(
                f"SELECT snapshot_id, parent_id, committed_at, operation "
                f"FROM {self._qualified}.snapshots"
            )
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
        instead of assuming sequential ids: the parquet backend's
        SnapshotLog happens to issue 1, 2, 3, … but the real Iceberg
        runtime issues random longs (r09 ADVICE — a literal ``as_of=1``
        silently misreads there)."""
        if self.backend == "iceberg":
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {self._qualified}.refs "
                f"WHERE name = '{self._safe_ref(branch)}'"
            ).collect()
            return int(rows[0][0]) if rows else 0
        return self._log.current_id(branch)

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: current head) with a stable name —
        Iceberg's ``CREATE TAG`` ref. Tagged snapshots survive
        ``expire_snapshots`` until the tag is dropped, so a tag is the
        durable handle for "the exact table state release X trained on".
        """
        if self.backend == "iceberg":
            as_of = (
                f" AS OF VERSION {snapshot_id}" if snapshot_id is not None else ""
            )
            self.spark.sql(
                f"ALTER TABLE {self._qualified} "
                f"CREATE TAG `{self._safe_ref(name)}`{as_of}"
            )
            return snapshot_id or 0
        return self._log.set_tag(name, snapshot_id)

    def drop_tag(self, name: str) -> None:
        if self.backend == "iceberg":
            self.spark.sql(
                f"ALTER TABLE {self._qualified} "
                f"DROP TAG `{self._safe_ref(name)}`"
            )
            return
        self._log.drop_tag(name)

    def tags(self) -> dict[str, int]:
        """Tag name -> snapshot id (Iceberg's ``<table>.refs`` metadata)."""
        if self.backend == "iceberg":
            rows = self.spark.sql(
                f"SELECT name, snapshot_id FROM {self._qualified}.refs "
                "WHERE type = 'TAG'"
            ).collect()
            return {r.name: r.snapshot_id for r in rows}
        return dict(self._log.refs())

    def publish(self, branch: str) -> int:
        """Fast-forward main to ``branch``'s head — the publish step of
        write-audit-publish (Iceberg's ``fast_forward`` procedure).
        Raises ``CommitConflict`` if main advanced through any other
        route since the branch forked (rebase by re-staging). Returns
        the publish snapshot id."""
        if self.backend == "iceberg":
            cat = self.config.catalog_name
            self.spark.sql(
                f"CALL {cat}.system.fast_forward"
                f"('{self.config.table_name}', 'main', "
                f"'{self._safe_ref(branch)}')"
            )
            # the publish snapshot id = main's post-fast-forward head,
            # read back from the refs metadata table (returning a dummy 0
            # would hand callers keying on the id a bogus value)
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {self._qualified}.refs "
                "WHERE name = 'main'"
            ).collect()
            return int(rows[0][0])
        return self._log.publish(branch)

    def drop_branch(self, branch: str) -> list[int]:
        """Delete a staged branch and the data only it references — the
        audit-failed arm of write-audit-publish; main is untouched.
        Returns the unlinked snapshot ids (parquet backend)."""
        if self.backend == "iceberg":
            self.spark.sql(
                f"ALTER TABLE {self._qualified} "
                f"DROP BRANCH `{self._safe_ref(branch)}`"
            )
            return []
        return self._log.drop_branch(branch)

    def rollback(self, snapshot_id: int, branch: str = "main") -> None:
        """Restore an earlier snapshot's live set as a NEW snapshot (history
        is append-only — Iceberg's rollback_to_snapshot semantics).
        ``branch`` lands the restoring snapshot on a WAP branch (r09
        ADVICE: stageable maintenance)."""
        if self.backend == "iceberg":
            self._assert_wap_routing("rollback", branch=branch)
            cat = self.config.catalog_name
            self.spark.sql(
                f"CALL {cat}.system.rollback_to_snapshot"
                f"('{self.config.table_name}', {snapshot_id})"
            )
            return
        self._log.commit("rollback", [], rollback_to=snapshot_id,
                         branch=branch)

    def delete(self, condition: str, branch: str = "main") -> None:
        """Row-level DELETE (SQL predicate string) — the GDPR/right-to-be-
        forgotten path. iceberg backend: real ``DELETE FROM`` (position/
        equality deletes per table mode, file-pruned). parquet backend:
        copy-on-write overwrite commit of the survivors; pre-delete
        snapshots remain until expire_snapshots reclaims them — matching
        Iceberg semantics, where hard erasure = DELETE + expire.
        ``branch`` stages the delete on a WAP branch (r09 ADVICE).
        """
        if self.backend == "iceberg":
            self._assert_wap_routing("delete", branch=branch)
            self.spark.sql(
                f"DELETE FROM {self._qualified} WHERE {condition}"
            )
            return
        current = self.read(branch=self._ref(branch))
        data_cols = [c for c in current.columns if not c.startswith("_p_")]
        # coalesce: SQL DELETE removes only cond=TRUE rows; a bare
        # NOT(cond) would also drop rows where cond is NULL (NOT NULL is
        # NULL, filtered) — silent data loss vs the iceberg branch
        survivors = current.select(*[qcol(c) for c in data_cols]).where(
            f"NOT coalesce(({condition}), false)"
        )
        self._write_commit(survivors, operation="delete", branch=branch)

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
        hash-distribution on write. ``branch`` stages the rewrite on a
        WAP branch (r09 ADVICE: stageable maintenance).
        """
        if self.backend == "iceberg":
            self._assert_wap_routing("compact", branch=branch)
            cat = self.config.catalog_name
            if zorder_by:
                zcols = ", ".join(zorder_by)
                self.spark.sql(
                    f"CALL {cat}.system.rewrite_data_files("
                    f"table => '{self.config.table_name}', "
                    f"strategy => 'sort', sort_order => 'zorder({zcols})')"
                )
            else:
                self.spark.sql(
                    f"CALL {cat}.system.rewrite_data_files('{self.config.table_name}')"
                )
            return
        current = self.read(branch=self._ref(branch))
        data_cols = [c for c in current.columns if not c.startswith("_p_")]
        live = current.select(*[qcol(c) for c in data_cols])
        cluster = zorder_key(live, zorder_by) if zorder_by else None
        self._write_commit(live, operation="replace", cluster_expr=cluster,
                           branch=branch)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop history older than the newest ``keep_last`` snapshots and
        physically remove data no retained snapshot references (Iceberg's
        expire_snapshots maintenance procedure). Returns snapshots expired."""
        if self.backend == "iceberg":
            self.spark.sql(
                f"CALL {self.config.catalog_name}.system.expire_snapshots"
                f"(table => '{self.config.table_name}', retain_last => {keep_last})"
            )
            return 0
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
        if self.backend == "iceberg":
            return (
                df.writeStream.format("iceberg")
                .outputMode("append")
                .trigger(**trigger)
                .option("checkpointLocation", checkpoint)
                .toTable(self._qualified)
            )

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
        """Incremental replay-dedup check: parse only the v-files
        committed since this sink's previous check instead of re-reading
        EVERY retained snapshot per micro-batch — the full scan is
        O(commits) driver IO per trigger, which at the sink's own cited
        rate (~5 760 commits/day at a 15 s trigger) compounds to O(N²)
        metadata reads per day and eventually outruns the trigger
        interval. An id whose snapshot has since been EXPIRED stays in
        the cache: its data was reclaimed by retention on purpose, and
        re-appending a replay would resurrect it.
        """
        if not self.table_exists():
            return False
        log = self._log
        maxv = log._max_version()
        seen_v, ids = getattr(self, "_bid_cache", (0, set()))
        if maxv > seen_v:
            for i in range(seen_v + 1, maxv + 1):
                s = log._maybe_snapshot(i)
                if s is None:
                    continue
                if s.get("batch_id") is not None:
                    ids.add(s["batch_id"])
                ids.update(s.get("batch_ids", []))
            self._bid_cache = (maxv, ids)
        return epoch_id in ids

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
        duplicate source keys). Replay safety on the parquet backend:
        batch ids are recorded in the snapshot log exactly as in
        write_stream, so a replayed micro-batch after a crash is detected
        and skipped instead of double-merged. The iceberg backend relies
        on the engine-side checkpoint only (documented gap: a crash
        between MERGE commit and checkpoint ack can re-merge one batch —
        idempotent when updates are full-row, same caveat the Iceberg
        docs give for foreachBatch MERGE).
        """
        trigger = trigger_override or self.config.trigger()

        def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if self.backend == "parquet" and self._replayed_batch(epoch_id):
                return  # replayed micro-batch — already merged
            if order_by is not None:
                from pyspark.sql import Window

                cols = [order_by] if isinstance(order_by, str) else order_by
                w = Window.partitionBy(*keys).orderBy(
                    *[F.desc(c) for c in cols]
                )
                batch_df = (
                    batch_df.withColumn("_bic_rn", F.row_number().over(w))
                    .where(F.col("_bic_rn") == 1)
                    .drop("_bic_rn")
                )
            if not self.table_exists():
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
        if self.backend == "iceberg":
            reader = self.spark.read.format("iceberg").option(
                "start-snapshot-id", str(from_snapshot)
            )
            if to_snapshot is not None:
                reader = reader.option("end-snapshot-id", str(to_snapshot))
            return reader.load(self._qualified)
        head = self._log.current_id() if to_snapshot is None else to_snapshot
        # walk the ACTUAL lineage (parent chain), not the raw id range:
        # snapshot ids interleave across branches and expire()/
        # drop_branch() punch holes in the sequence — iterating raw ids
        # would crash on a hole and wrongly veto on an unrelated branch's
        # replacing commit
        for sid in self._log.ancestors(head):
            if sid <= from_snapshot:
                break
            snap = self._log._maybe_snapshot(sid)
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
        base = set(self._log.live_commits(from_snapshot))
        new = [c for c in self._log.live_commits(head) if c not in base]
        dirs = [os.path.join(self._log.data_dir, c) for c in new]
        # layout-aware: an incremental range can cross a partition-spec
        # evolution (evolve is metadata-only, not a replacing commit)
        return self._load_commit_dirs(dirs)

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
        if self.backend == "iceberg":
            self.spark.sql(
                f"CALL {self.config.catalog_name}.system.create_changelog_view("
                f"table => '{self.config.table_name}', "
                f"options => map('start-snapshot-id', '{from_snapshot}'"
                + (f", 'end-snapshot-id', '{to_snapshot}'" if to_snapshot else "")
                + "), changelog_view => '_bic_changes')"
            )
            return self.spark.table("_bic_changes")
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
        if self.backend == "iceberg":
            rows = (
                self.snapshots()
                .where(F.col("committed_at") <= F.timestamp_millis(F.lit(ts_ms)))
                .agg(F.max("snapshot_id"))
                .collect()
            )
            return rows[0][0]
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

        ``prune={"col": (lo, hi)}`` (parquet backend) skips whole commit
        dirs whose recorded min/max stats cannot intersect the bounds
        (None = open end) — the manifest-pruning analogue of Iceberg's
        file metrics. Pruning restricts which FILES are read; callers
        still apply their row filter (same contract as partition
        pruning). On the iceberg backend the runtime already prunes from
        footer metrics, so ``prune`` is ignored there.

        ``with_spec_id=True`` (parquet backend) adds Iceberg's
        ``_spec_id`` metadata column — the spec each row's commit was
        written under; on the iceberg backend select the runtime's own
        ``_spec_id`` metadata column instead.

        ``branch`` reads a staged branch's head (Iceberg's
        ``VERSION AS OF 'branch'``) — the audit step of
        write-audit-publish reads exactly what :meth:`publish` would make
        visible on main.
        """
        if sum(x is not None for x in (as_of, as_of_timestamp_ms, tag, branch)) > 1:
            raise ValueError(
                "pass at most one of as_of / as_of_timestamp_ms / tag / branch"
            )
        if branch is not None and self.backend != "iceberg":
            head = self._log.current_id(branch)
            if head == 0:
                raise LookupError(f"branch {branch!r} has no commits")
            as_of = head
        if as_of_timestamp_ms is not None:
            as_of = self.snapshot_as_of_timestamp(as_of_timestamp_ms)
            if as_of is None:
                raise ValueError(
                    f"no snapshot existed at timestamp {as_of_timestamp_ms}"
                )
        if tag is not None and self.backend != "iceberg":
            as_of = self._log.resolve_tag(tag)
        if self.backend == "iceberg":
            # prune is NATIVELY satisfied here (file pruning from footer
            # metrics) — accepting it is not a silent drop. The one
            # argument that changes the RESULT schema, with_spec_id, is
            # honored by selecting the runtime's own _spec_id metadata
            # column so no path silently returns a narrower frame than
            # the parquet backend would.
            cols = "*, _spec_id" if with_spec_id else "*"
            ref = branch if branch is not None else tag
            if ref is not None:
                return self.spark.sql(
                    f"SELECT {cols} FROM {self._qualified} "
                    f"VERSION AS OF '{self._safe_ref(ref)}'"
                )
            if as_of is not None:
                return self.spark.sql(
                    f"SELECT {cols} FROM {self._qualified} "
                    f"VERSION AS OF {as_of}"
                )
            df = self.spark.table(self._qualified)
            if with_spec_id:
                df = df.select("*", "_spec_id")
            return df
        dirs = self._log.commit_paths(as_of)
        if prune:
            dirs = self._prune_dirs(dirs, prune)
        return self._load_commit_dirs(dirs, with_spec_id=with_spec_id)

    def _load_commit_dirs(self, dirs: list[str],
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
        one name. A marker without ``fields`` (a dir from before the
        field existed) contributes the declared data columns of
        ``table.json``. ``_p_*`` and ``_c`` stay out of the given schema:
        partition discovery adds them from the directory names.

        ``with_spec_id=True`` materializes Iceberg's ``_spec_id`` metadata
        column (the spec each row's commit was written under) — the ONLY
        robust way to attribute a row to its layout era: classifying by
        ``_p_* IS NOT NULL`` misattributes rows whose partition VALUE is
        legitimately NULL (r06 adversarial find).

        Commits with ZERO data files are skipped before the scan: a
        partitioned write of an EMPTY frame (a delete-all's survivor
        commit, an empty micro-batch) produces a fileless dir that made
        every later read die with UNABLE_TO_INFER_SCHEMA (r06 model-based
        find); a fileless commit contributes no rows by construction, and
        an all-empty dir list reads as the declared-schema empty frame."""
        meta = self._log.table_meta()
        declared = StructType.fromJson(meta["schema_json"])

        def _marker(d: str) -> dict:
            try:
                with open(os.path.join(d, "_bic_spec.json")) as f:
                    return json.load(f)
            except FileNotFoundError:
                return {}  # pre-marker-era commit dir: legacy defaults
            except ValueError as exc:
                # marker writes are atomic (rename-in) and precede the
                # commit, so a referenced dir can never carry a torn
                # marker from our own crashes — unparseable means
                # EXTERNAL damage, and degrading to {} here would
                # silently skip the esc_pcols recompute (marker values
                # leaking into reads) and mis-read the commit's layout
                # and fields. Refuse loudly instead.
                raise ValueError(
                    f"corrupt commit marker {d}/_bic_spec.json — external "
                    "damage; restore the file or expire the snapshot(s) "
                    f"referencing this commit: {exc}"
                ) from exc

        ext = f".{self._file_format()}"

        def _has_files(d: str, marker: dict) -> bool:
            # commit-time metadata first (n_files in _bic_spec.json) —
            # one small json read instead of walking the data tree; dirs
            # from before the field existed fall back to the walk
            n = marker.get("n_files")
            if n is not None:
                return n > 0
            return any(
                f.endswith(ext)
                for _, _, files in os.walk(d)
                for f in files
            )

        markers = {d: _marker(d) for d in dirs}
        markers = {d: m for d, m in markers.items() if _has_files(d, m)}
        if not markers:
            empty = _empty_frame(self.spark, declared)
            if with_spec_id:
                empty = empty.withColumn(
                    "_spec_id", F.lit(None).cast("int")
                )
            return empty
        legacy_fields = [f for f in declared.fields
                         if f.name != "_c" and not f.name.startswith("_p_")]

        def _load(group: list[str], spec_id: int) -> DataFrame:
            fields: dict[str, StructField] = {}
            for d in group:
                recorded = markers[d].get("fields")
                for f in (legacy_fields if recorded is None
                          else map(StructField.fromJson, recorded)):
                    fields.setdefault(f.name, f)
            reader = (
                self.spark.read.option("basePath", self._log.data_dir)
                .schema(StructType(list(fields.values())))
            )
            # `_c` is the commit-dir partition component — implementation
            # detail, dropped from the user-visible schema
            df = reader.format(self._file_format()).load(group).drop("_c")
            # keep BOTH spellings: markers written before the r11 fix
            # recorded the Hive-escaped dir spelling (needs the
            # unescape), new markers record the logical name — which may
            # itself contain a literal %XX sequence that a second
            # unescape would corrupt (self-review find: a column named
            # 'a%3Ab' double-unescaped to 'a:b' and skipped the
            # recompute). Spurious entries are harmless: _restore_pcols
            # only acts on names present in the spec-field map.
            esc = set()
            for d in group:
                for c in markers[d].get("esc_pcols", []):
                    esc.add(c)
                    esc.add(unescape_path_name(c))
            df = self._restore_pcols(df, spec_id, esc, meta)
            if with_spec_id:
                df = df.withColumn("_spec_id", F.lit(spec_id).cast("int"))
            return df

        groups = self._dirs_by_layout(markers, meta)
        if len(groups) == 1:
            (key, group), = groups.items()
            return _load(group, key[0])
        out = None
        for key, group in sorted(groups.items()):
            part = _load(group, key[0])
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    def _dirs_by_layout(self, markers: dict[str, dict],
                        meta: dict) -> dict[tuple, list[str]]:
        """Group commit dirs by (spec_id, partition layout) as written at
        commit time (their parsed ``_bic_spec.json`` markers) — the
        per-manifest spec id of Iceberg. Keys are ``(spec_id, pcols...)``.
        Dirs from before the marker existed (marker ``{}``) group under
        the table's ORIGINAL spec (id 0) — markerless dirs can only
        predate evolution support, so their layout is whatever the table
        was created with (``spec_history['0']`` once evolved, else the
        current spec)."""
        original = meta.get("spec_history", {}).get(
            "0", meta.get("partition_spec")
        )
        if original is not None:
            fallback = tuple(
                partition_columns([PartitionField(*f) for f in original])
            )
        else:
            fallback = tuple(partition_columns(self._spec))
        groups: dict[tuple, list[str]] = {}
        for d, marker in markers.items():
            if marker:
                key = (int(marker.get("spec_id", 0)),
                       *marker.get("pcols", []))
            else:
                key = (0, *fallback)  # pre-marker-era commit dir
            groups.setdefault(key, []).append(d)
        return groups

    def _spec_fields_for_id(self, spec_id: int,
                            meta: dict) -> list[PartitionField]:
        """The partition spec a commit group was written under: the
        current spec when ids match, else the archived entry in
        ``spec_history`` (evolve_spec archives the outgoing spec under
        its id — Iceberg's per-manifest spec lookup)."""
        if spec_id == int(meta.get("spec_id", 0)):
            raw = meta.get("partition_spec", [])
        else:
            raw = meta.get("spec_history", {}).get(str(spec_id), [])
        return [PartitionField(*f) for f in raw]

    def _restore_pcols(self, df: DataFrame, spec_id: int,
                       esc_cols: set, meta: dict) -> DataFrame:
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
            for f in StructType.fromJson(meta["schema_json"]).fields
        }
        dtypes = dict(df.dtypes)
        fields = {
            f"_p_{f.field_name}": f
            for f in self._spec_fields_for_id(spec_id, meta)
        }

        def _spec_type(c: str) -> str | None:
            """Transform-derived type for _p_ columns the declared schema
            missed: init_table declares the ORIGINAL spec's _p_ columns,
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
        if esc_cols:
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

        Iceberg backend: issued as ALTER TABLE DROP/ADD PARTITION FIELD
        statements (the runtime records the new spec in table metadata).
        The fields to DROP come from the spec THIS sink last applied
        (config at first call, then each evolution's result) — the
        runtime metadata is the source of truth, but Spark SQL exposes no
        portable way to read it back, so evolving a table some OTHER sink
        instance already evolved requires passing that state explicitly.
        """
        fields = [
            f if isinstance(f, PartitionField) else PartitionField(*f)
            for f in new_spec
        ]
        if self.backend == "iceberg":
            current = getattr(self, "_iceberg_spec", None)
            for f in (current if current is not None else self._spec):
                self.spark.sql(
                    f"ALTER TABLE {self._qualified} "
                    f"DROP PARTITION FIELD {_iceberg_transform_sql(f)}"
                )
            for f in fields:
                self.spark.sql(
                    f"ALTER TABLE {self._qualified} "
                    f"ADD PARTITION FIELD {_iceberg_transform_sql(f)}"
                )
            self._iceberg_spec = fields
            return
        if not self._log.exists():
            raise ValueError(
                "cannot evolve the partition spec of a table that does not "
                "exist yet — set config.partition_spec for creation instead"
            )
        self._log.evolve_spec(
            [[f.source, f.transform, f.field_name] for f in fields]
        )
