"""Iceberg-runtime sink: what ``LakeSink(spark, config)`` returns when
iceberg-spark-runtime is on the JVM classpath. Each method is one SQL
statement, procedure call or ``DataFrameWriterV2`` call into the runtime;
method semantics are documented on ``LakeSink`` (operators/sink.py),
whose parquet-log path proves the same contract under test. The live
suite (tests/test_iceberg_backend.py) needs the runtime jar;
tests/test_iceberg_sink.py pins, on a mock session, the SQL text or
writer call every method emits. Not a ``LakeSink`` subclass on purpose:
a method missing here would otherwise silently run the parquet-log code.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import partitioning as PT

from ..config import (
    IcebergSinkConfig,
    bind_sink_session,
    check_one_pin,
    declared_schema,
)
from .merge import latest_per_key
from .partitioning import PartitionField, as_fields, parse_transform, qname

_WRITE_TO = {"year": PT.years, "month": PT.months, "day": PT.days,
             "hour": PT.hours}


def _iceberg_transform_sql(f: PartitionField) -> str:
    """Iceberg DDL transform syntax (``days(ts)``, ``bucket(16, id)``,
    ``col``). ``void`` raises: Iceberg models it as a DROPPED field."""
    kind, param = parse_transform(f.transform)
    if kind == "identity":
        return f.source
    if kind in _WRITE_TO:
        return f"{kind}s({f.source})"
    if kind in ("bucket", "truncate"):
        return f"{kind}({param}, {f.source})"
    raise ValueError(
        f"transform {f.transform!r} has no Iceberg DDL partition-field form"
    )


def _safe_ref(name: str) -> str:
    """A branch/tag name checked against a word-like allowlist before it
    is interpolated into SQL (an embedded quote is an injection surface)."""
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._\-]*", name or ""):
        raise ValueError(
            f"invalid branch/tag name {name!r}: must match "
            "[A-Za-z0-9][A-Za-z0-9._-]* on the iceberg backend"
        )
    return name


class IcebergRuntimeSink:
    """``LakeSink``'s public methods, each one call into the runtime.
    ``batch_id`` is accepted for API parity; the runtime keeps no caller
    watermark."""

    def __init__(self, spark: SparkSession, config: IcebergSinkConfig) -> None:
        bind_sink_session(spark, config)
        self.spark = spark
        self.config = config
        # the spec this sink last applied: Spark SQL has no portable way
        # to read the runtime's own spec back
        self._spec = as_fields(config.partition_spec or [])
        for k, v in config.spark_catalog_conf().items():
            spark.conf.set(k, v)

    @property
    def _qualified(self) -> str:
        return f"{self.config.catalog_name}.{self.config.table_name}"

    def _call(self, procedure: str, args: str) -> DataFrame:
        return self.spark.sql(
            f"CALL {self.config.catalog_name}.system.{procedure}({args})"
        )

    def _alter(self, clause: str) -> None:
        self.spark.sql(f"ALTER TABLE {self._qualified} {clause}")

    def _assert_wap_routing(self, operation: str, branch: str = "main") -> None:
        """The runtime routes writes by the SESSION conf, not by our
        ``branch`` argument, so every write checks both mismatches: a
        branch write without the conf would commit straight to main, and a
        main write with the conf set would land on the WAP branch."""
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

    def table_exists(self) -> bool:
        return self.spark.catalog.tableExists(self._qualified)

    def ensure_table(self, like: DataFrame | None = None) -> None:
        if self.table_exists():
            return
        if like is None:
            like = self.spark.createDataFrame([], declared_schema(self.config))
        parts = []
        for f in self._spec:
            kind, param = parse_transform(f.transform)
            if kind == "identity":
                parts.append(F.col(f.source))
            elif kind in _WRITE_TO:
                parts.append(_WRITE_TO[kind](F.col(f.source)))
            elif kind == "bucket":
                parts.append(PT.bucket(param, F.col(f.source)))
            else:
                # NEVER degrade to identity: a partition explosion
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
            self._alter(
                f"WRITE ORDERED BY ({', '.join(self.config.sort_order)})"
            )

    def append(self, df: DataFrame, batch_id: int | None = None,
               branch: str = "main") -> None:
        self.ensure_table(df)
        self._assert_wap_routing("append", branch=branch)
        df.writeTo(self._qualified).append()

    def overwrite(self, df: DataFrame, batch_id: int | None = None,
                  branch: str = "main") -> None:
        self.ensure_table(df)
        self._assert_wap_routing("overwrite", branch=branch)
        df.writeTo(self._qualified).createOrReplace()

    def overwrite_partitions(self, df: DataFrame,
                             branch: str = "main") -> None:
        self.ensure_table(df)
        self._assert_wap_routing("overwrite_partitions", branch=branch)
        df.writeTo(self._qualified).overwritePartitions()

    def merge(self, updates: DataFrame, keys: list[str],
              tiebreak: str | None = None, batch_id: int | None = None,
              branch: str = "main") -> None:
        self._assert_wap_routing("merge", branch=branch)
        if tiebreak is not None:
            # the within-batch winner merge_upsert keeps on the parquet
            # log — duplicate source keys would trip Iceberg's MERGE
            # cardinality check and abort
            updates = latest_per_key(updates, keys, [tiebreak])
        updates.createOrReplaceTempView("_bic_merge_src")
        cond = " AND ".join(f"t.{qname(k)} = s.{qname(k)}" for k in keys)
        self.spark.sql(
            f"MERGE INTO {self._qualified} t USING _bic_merge_src s "
            f"ON {cond} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def delete(self, condition: str, branch: str = "main") -> None:
        self._assert_wap_routing("delete", branch=branch)
        self.spark.sql(f"DELETE FROM {self._qualified} WHERE {condition}")

    def compact(self, zorder_by: list[str] | None = None,
                branch: str = "main") -> None:
        self._assert_wap_routing("compact", branch=branch)
        table = self.config.table_name
        if zorder_by:
            self._call("rewrite_data_files",
                       f"table => '{table}', strategy => 'sort', "
                       f"sort_order => 'zorder({', '.join(zorder_by)})'")
        else:
            self._call("rewrite_data_files", f"'{table}'")

    def rollback(self, snapshot_id: int, branch: str = "main") -> None:
        self._assert_wap_routing("rollback", branch=branch)
        self._call("rollback_to_snapshot",
                   f"'{self.config.table_name}', {snapshot_id}")

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Returns 0: the procedure reports files, not snapshots."""
        self._call("expire_snapshots",
                   f"table => '{self.config.table_name}', "
                   f"retain_last => {keep_last}")
        return 0

    def evolve_partition_spec(
        self, new_spec: list[PartitionField | tuple | list]
    ) -> None:
        """ALTER TABLE DROP/ADD PARTITION FIELD; the runtime records the
        new spec. The fields dropped are the spec this sink last applied,
        so evolving a table another sink instance already evolved needs a
        sink whose config holds that spec."""
        fields = as_fields(new_spec)
        for verb, spec in (("DROP", self._spec), ("ADD", fields)):
            for f in spec:
                self._alter(f"{verb} PARTITION FIELD {_iceberg_transform_sql(f)}")
        self._spec = fields

    def current_snapshot_id(self, branch: str = "main") -> int:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._qualified}.refs "
            f"WHERE name = '{_safe_ref(branch)}'"
        ).collect()
        return int(rows[0][0]) if rows else 0

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        as_of = "" if snapshot_id is None else f" AS OF VERSION {snapshot_id}"
        self._alter(f"CREATE TAG `{_safe_ref(name)}`{as_of}")
        return snapshot_id or 0

    def drop_tag(self, name: str) -> None:
        self._alter(f"DROP TAG `{_safe_ref(name)}`")

    def tags(self) -> dict[str, int]:
        rows = self.spark.sql(
            f"SELECT name, snapshot_id FROM {self._qualified}.refs "
            "WHERE type = 'TAG'"
        ).collect()
        return {r.name: r.snapshot_id for r in rows}

    def publish(self, branch: str) -> int:
        """``fast_forward``; returns main's new head from ``refs``."""
        self._call("fast_forward",
                   f"'{self.config.table_name}', 'main', '{_safe_ref(branch)}'")
        return self.current_snapshot_id()

    def drop_branch(self, branch: str) -> list[int]:
        """Returns []: the runtime reports no unlinked snapshot ids."""
        self._alter(f"DROP BRANCH `{_safe_ref(branch)}`")
        return []

    def write_stream(self, df: DataFrame, checkpoint: str,
                     trigger_override: dict | None = None):
        """Iceberg's native streaming sink, whose snapshot summaries carry
        the micro-batch id dedup."""
        return (
            df.writeStream.format("iceberg")
            .outputMode("append")
            .trigger(**(trigger_override or self.config.trigger()))
            .option("checkpointLocation", checkpoint)
            .toTable(self._qualified)
        )

    def write_stream_merge(self, df: DataFrame, checkpoint: str,
                           keys: list[str],
                           order_by: str | list[str] | None = None,
                           trigger_override: dict | None = None):
        """Replay safety rests on the engine-side checkpoint only
        (documented gap: a crash between MERGE commit and checkpoint ack
        can re-merge one batch — idempotent when updates are full-row, the
        caveat the Iceberg docs give for foreachBatch MERGE)."""
        order = [order_by] if isinstance(order_by, str) else order_by

        def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if order:
                batch_df = latest_per_key(batch_df, keys, order)
            self.ensure_table(batch_df)
            self.merge(batch_df, keys, batch_id=epoch_id)

        return (
            df.writeStream.foreachBatch(_merge_batch)
            .trigger(**(trigger_override or self.config.trigger()))
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def snapshots(self) -> DataFrame:
        return self.spark.sql(
            f"SELECT snapshot_id, parent_id, committed_at, operation "
            f"FROM {self._qualified}.snapshots"
        )

    def snapshot_as_of_timestamp(self, ts_ms: int) -> int | None:
        rows = (
            self.snapshots()
            .where(F.col("committed_at") <= F.timestamp_millis(F.lit(ts_ms)))
            .agg(F.max("snapshot_id"))
            .collect()
        )
        return rows[0][0]

    def read(self, as_of: int | None = None,
             as_of_timestamp_ms: int | None = None,
             tag: str | None = None,
             branch: str | None = None,
             prune: dict | None = None,
             with_spec_id: bool = False) -> DataFrame:
        """``prune`` is satisfied natively (the runtime prunes files from
        footer metrics), so it is accepted and not passed on.
        ``with_spec_id`` selects the runtime's own ``_spec_id`` metadata
        column, so the frame is as wide as the parquet-log sink's."""
        check_one_pin(as_of, as_of_timestamp_ms, tag, branch)
        if as_of_timestamp_ms is not None:
            as_of = self.snapshot_as_of_timestamp(as_of_timestamp_ms)
            if as_of is None:
                raise ValueError(
                    f"no snapshot existed at timestamp {as_of_timestamp_ms}"
                )
        ref = branch if branch is not None else tag
        version = as_of if ref is None else f"'{_safe_ref(ref)}'"
        if version is None:
            df = self.spark.table(self._qualified)
            return df.select("*", "_spec_id") if with_spec_id else df
        cols = "*, _spec_id" if with_spec_id else "*"
        return self.spark.sql(f"SELECT {cols} FROM {self._qualified} "
                              f"VERSION AS OF {version}")

    def read_incremental(self, from_snapshot: int,
                         to_snapshot: int | None = None) -> DataFrame:
        reader = self.spark.read.format("iceberg").option(
            "start-snapshot-id", str(from_snapshot)
        )
        if to_snapshot is not None:
            reader = reader.option("end-snapshot-id", str(to_snapshot))
        return reader.load(self._qualified)

    def changes(self, from_snapshot: int,
                to_snapshot: int | None = None) -> DataFrame:
        end = f", 'end-snapshot-id', '{to_snapshot}'" if to_snapshot else ""
        self._call("create_changelog_view",
                   f"table => '{self.config.table_name}', "
                   f"options => map('start-snapshot-id', '{from_snapshot}'"
                   f"{end}), changelog_view => '_bic_changes'")
        return self.spark.table("_bic_changes")
