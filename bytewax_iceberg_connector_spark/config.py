"""Sink configuration model — parity with the reference's Pydantic config.

Reference: /root/reference/src/bytewax_iceberg_connector/models.py:104-262
(``IcebergSinkConfig`` + ``for_high_throughput`` / ``for_low_latency`` /
``for_petabyte_scale`` presets, field guardrails and warning validators).

The Spark translation: the reference's knobs steer a hand-rolled buffering
writer; here they COMPILE to Spark/Iceberg writer settings —
  batch_interval_seconds → Structured Streaming processing-time trigger
  batch_size             → per-trigger source admission cap (maxOffsetsPerTrigger
                           / maxFilesPerTrigger — Spark has no exact count
                           trigger; documented gap, SURVEY.md §7)
  num_partitions         → repartition(n) before the write (A2 list_parts);
                           at n=1 an input whose Catalyst size estimate is
                           at most sink._COALESCE_MAX_BYTES (set from the
                           crossover tools/write_crossover.py measures)
                           goes through coalesce(1) instead: one Spark job
  file_format            → Iceberg `write.format.default` table property
  catalog_*              → spark.sql.catalog.<name>.* conf
Guardrail ranges and the >60 s / >50 partitions warnings mirror
models.py:149-166 and models.py:204-218.
"""

from __future__ import annotations

import logging
import warnings
from enum import Enum
from typing import Any, Optional

from pydantic import BaseModel, Field, field_validator
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .session import ensure_engine_conf

logger = logging.getLogger(__name__)


class FileFormat(str, Enum):
    """models.py:16-24 — supported data file formats."""

    PARQUET = "parquet"
    AVRO = "avro"
    ORC = "orc"


class CatalogType(str, Enum):
    """models.py:131-146 — catalog flavors; 'hadoop' added for local/dev
    (Spark's file-based catalog, the test default)."""

    HIVE = "hive"
    REST = "rest"
    NESSIE = "nessie"
    HADOOP = "hadoop"


class IcebergSinkConfig(BaseModel):
    """Validated sink configuration (reference models.py:104-218 parity)."""

    # catalog / table identity
    catalog_name: str = "local"
    catalog_uri: Optional[str] = None
    warehouse_path: Optional[str] = None
    catalog_type: CatalogType = CatalogType.HADOOP
    table_name: str = Field(..., description="db.table identifier")

    # performance envelope (ranges per models.py:149-166)
    batch_size: int = Field(default=1000, ge=1, le=100_000)
    batch_interval_seconds: int = Field(default=15, ge=1, le=300)
    num_partitions: int = Field(default=1, ge=1, le=100)

    file_format: FileFormat = FileFormat.PARQUET
    #: accepted for reference parity (models.py:171-177: staging dir for
    #: in-flight batch files). Spark's output committer owns staging —
    #: tasks write attempt files under the destination and commit by
    #: rename, and the snapshot log only publishes fully-written commits —
    #: so a user-provided staging dir has nothing to configure. Kept so
    #: reference configs deserialize unchanged; documented as subsumed.
    temp_dir: Optional[str] = None

    # optional table-creation spec (models.py:179-190): partition column spec
    # as (column, transform) pairs, e.g. [("ts", "day"), ("user_id", "identity")]
    table_schema: Optional[str] = None  # DDL string, e.g. "id BIGINT, ts TIMESTAMP"
    partition_spec: Optional[list[tuple[str, str]]] = None
    sort_order: Optional[list[str]] = None
    location: Optional[str] = None
    extra_options: dict[str, Any] = Field(default_factory=dict)

    @field_validator("batch_interval_seconds")
    @classmethod
    def _warn_long_interval(cls, v: int) -> int:
        """models.py:204-210 — warn (not reject) on intervals > 60 s."""
        if v > 60:
            warnings.warn(
                f"batch_interval_seconds={v} > 60s may delay data visibility",
                stacklevel=2,
            )
        return v

    @field_validator("num_partitions")
    @classmethod
    def _warn_many_partitions(cls, v: int) -> int:
        """models.py:212-218 — warn on > 50 partitions."""
        if v > 50:
            warnings.warn(
                f"num_partitions={v} > 50 may create many small files",
                stacklevel=2,
            )
        return v

    # -- presets (models.py:220-262) ---------------------------------------

    @classmethod
    def for_high_throughput(cls, table_name: str, **kw: Any) -> "IcebergSinkConfig":
        """models.py:220-233."""
        return cls(table_name=table_name, batch_size=10_000,
                   batch_interval_seconds=30, num_partitions=8,
                   file_format=FileFormat.PARQUET, **kw)

    @classmethod
    def for_low_latency(cls, table_name: str, **kw: Any) -> "IcebergSinkConfig":
        """models.py:235-247."""
        return cls(table_name=table_name, batch_size=100,
                   batch_interval_seconds=5, num_partitions=2, **kw)

    @classmethod
    def for_petabyte_scale(cls, table_name: str, **kw: Any) -> "IcebergSinkConfig":
        """models.py:249-262."""
        return cls(table_name=table_name, batch_size=50_000,
                   batch_interval_seconds=60, num_partitions=32,
                   file_format=FileFormat.PARQUET, **kw)

    # -- compilation to Spark ------------------------------------------------

    def spark_catalog_conf(self) -> dict[str, str]:
        """Compile catalog identity → spark.sql.catalog.* conf entries
        (reference _load_table connector.py:358-393 equivalent)."""
        base = f"spark.sql.catalog.{self.catalog_name}"
        conf = {base: "org.apache.iceberg.spark.SparkCatalog",
                f"{base}.type": self.catalog_type.value}
        if self.catalog_uri:
            conf[f"{base}.uri"] = self.catalog_uri
        if self.warehouse_path:
            conf[f"{base}.warehouse"] = self.warehouse_path
        for k, v in self.extra_options.items():
            if k == "rows_per_file_hint":  # sink-local knob, not catalog conf
                continue
            conf[f"{base}.{k}"] = str(v)
        return conf

    def trigger(self) -> dict[str, str]:
        """Streaming trigger kwargs (A4's time-based flush condition)."""
        return {"processingTime": f"{self.batch_interval_seconds} seconds"}

    def source_admission_options(self, source_format: str) -> dict[str, str]:
        """Compile ``batch_size`` (A4's count-based flush condition,
        connector.py:187-191) into the per-trigger source admission cap —
        Spark has no sink-side count trigger, so the cap is applied where
        Spark meters records: at the source.

        - record-metered sources (kafka): ``maxOffsetsPerTrigger`` =
          batch_size, an exact record cap;
        - file sources (parquet/json/csv/orc/avro/text): ``maxFilesPerTrigger``
          ≈ batch_size / rows-per-file; files are the admission unit, so the
          cap is approximate — tune ``extra_options['rows_per_file_hint']``
          (default 10_000) to the table's file sizing;
        - unknown sources: no cap (empty dict).

        Apply to the ``readStream`` that feeds the sink; write_stream then
        flushes every micro-batch, completing the "N records OR T seconds"
        envelope.
        """
        fmt = source_format.lower()
        if fmt == "kafka":
            return {"maxOffsetsPerTrigger": str(self.batch_size)}
        if fmt in {"parquet", "json", "csv", "orc", "avro", "text"}:
            hint = int(self.extra_options.get("rows_per_file_hint", 10_000))
            return {"maxFilesPerTrigger": str(max(1, self.batch_size // hint))}
        return {}

    def table_properties(self) -> dict[str, str]:
        return {
            "write.format.default": self.file_format.value,
            # reference _flush retries commits 3x (connector.py:242-257);
            # Iceberg's commit coordinator owns this in Spark:
            "commit.retry.num-retries": "3",
            # hash-distribute on partition keys at write → no tiny files
            # across 1000 executors:
            "write.distribution-mode": "hash",
        }


# -- shared by operators/sink.py and operators/iceberg_sink.py -------------


def bind_sink_session(spark: SparkSession, config: Any) -> None:
    """Check a sink's config type (connector.py:451-454 parity) and apply
    the engine's runtime confs: on a vanilla driver-provided session,
    partition-dir type inference is ON, and "0123" read back as int 123 is
    lossy before any cast."""
    if not isinstance(config, IcebergSinkConfig):
        raise TypeError("config must be an IcebergSinkConfig")
    ensure_engine_conf(spark)


def declared_schema(config: IcebergSinkConfig) -> StructType:
    """``config.table_schema`` as a StructType, to create a missing table
    without a frame (A9); raises when none is declared, like the
    reference (connector.py:380-392)."""
    if not config.table_schema:
        raise ValueError(
            "table is missing and no schema is available: pass a "
            "DataFrame or set config.table_schema (reference "
            "connector.py:389-392 parity)"
        )
    return StructType.fromDDL(config.table_schema)


def check_one_pin(as_of: int | None, as_of_timestamp_ms: int | None,
                  tag: str | None, branch: str | None) -> None:
    """A read pins at most one of snapshot id, timestamp, tag or branch."""
    if sum(x is not None for x in (as_of, as_of_timestamp_ms, tag, branch)) > 1:
        raise ValueError(
            "pass at most one of as_of / as_of_timestamp_ms / tag / branch"
        )
