"""Iceberg partition-transform expressions (A6).

Reference: ``_IcebergSinkPartition._partition_records`` /root/reference/src/
bytewax_iceberg_connector/connector.py:261-335 — resolves each partition-spec
field by field-id, applies the spec's transform (identity/day/... via
``spec_field.transform.transform(field_type)``) to every record in Python,
and groups the buffer by the resulting key tuple.

Spark-first translation: each Iceberg transform is a Column expression, so
"compute the partition key" is a ``select`` and "group records by key" is the
engine's own hash partitioning — per-record Python disappears. When writing
through the real Iceberg Spark runtime these transforms are applied
implicitly (hidden partitioning, ``partitionedBy(days(ts))``); this module
exists for (a) the parquet-warehouse fallback sink, (b) partition-key
introspection queries (plans/operator_queries.py), and (c) parity tests.

Transform semantics follow the Iceberg spec (identity, year/month/day/hour
as *time buckets*, bucket[N] as hash-mod, truncate[W] as width-floor):
- year/month/day/hour surface as the truncated timestamp (human-readable)
  rather than Iceberg's internal epoch-unit ints — same partition boundaries,
  friendlier keys.
- bucket[N] uses Spark's murmur3 (``F.hash``) mod N. Iceberg's bucket hashes
  the value's serialized bytes with murmur3 seed 0, so the bucket *layout*
  matches in spirit but individual assignments differ from the Java runtime;
  documented divergence — co-location properties are identical.
- truncate[W]: ints floor to a multiple of W (negative-safe), strings take
  the first W characters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TIME_TRUNCS = {"year": "year", "month": "month", "day": "day", "hour": "hour"}


def qname(name: str) -> str:
    """Backtick-quoted EXACT identifier — the single spelling of the
    quoting rule for both Column refs (``qcol``) and SQL identifier
    strings (the Iceberg MERGE condition), so the convention cannot
    drift between the two."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str) -> Column:
    """Column reference by EXACT name. ``F.col("a.b")`` parses the dot as
    struct-field access (`a`.`b`) and fails to resolve a column literally
    named ``a.b`` (r10 hostile-column-names find: MERGE keyed on a dotted
    name crashed); backtick-quoting pins the literal name."""
    return F.col(qname(name))


def parse_transform(transform: str) -> tuple[str, int | None]:
    """Normalize an Iceberg transform spec string to ``(kind, param)``.

    Accepted: ``identity``, ``void``, ``year|month|day|hour``,
    ``bucket[N]``, ``truncate[W]`` (bracket or parenthesis syntax).
    The single parser behind both the Column compiler and the Iceberg
    DDL renderer — one place to extend when a transform is added.
    """
    t = transform.strip().lower().replace("(", "[").replace(")", "]")
    if t in ("identity", "void") or t in _TIME_TRUNCS:
        return t, None
    for kind in ("bucket", "truncate"):
        if t.startswith(f"{kind}[") and t.endswith("]"):
            return kind, int(t[len(kind) + 1:-1])
    raise ValueError(f"unsupported partition transform: {transform!r}")


def transform_column(source: str, transform: str, dtype: str = "") -> Column:
    """Compile one Iceberg transform spec string to a Column.

    ``dtype`` (Spark simpleString) picks the truncate flavor — string
    width vs numeric floor.
    """
    kind, param = parse_transform(transform)
    if kind == "identity":
        return qcol(source)
    if kind == "void":
        return F.lit(None)
    if kind in _TIME_TRUNCS:
        return F.date_trunc(_TIME_TRUNCS[kind], qcol(source))
    if kind == "bucket":
        return F.pmod(F.hash(qcol(source)), F.lit(param))
    # truncate: Iceberg spec int form v - (((v % W) + W) % W), negative-safe
    if dtype.startswith("string"):
        return F.substring(qcol(source), 1, param)
    c = qcol(source)
    return c - F.pmod(F.pmod(c, F.lit(param)) + F.lit(param), F.lit(param))


@dataclass(frozen=True)
class PartitionField:
    """One spec entry: (source column, transform, partition-field name)."""

    source: str
    transform: str = "identity"
    name: str | None = None

    @property
    def field_name(self) -> str:
        if self.name:
            return self.name
        t = self.transform.split("[")[0].split("(")[0]
        return self.source if t == "identity" else f"{self.source}_{t}"


# -- hostile partition-VALUE encoding (parquet backend dir layout) ----------
#
# Partition values become Hive-style directory components
# (``_p_col=<escaped>``). Spark's own escaping round-trips almost everything
# (slash, equals, newline, unicode, control chars — r10 sweep), but four
# classes break the dir encoding itself:
#   - ``""`` and the literal ``__HIVE_DEFAULT_PARTITION__`` both collapse
#     into NULL's default dir — three distinct logical values, ONE path:
#     the dynamic partition writer crashes with FileAlreadyExists when two
#     land in one task, or silently merges partitions when they don't;
#   - values whose escaped form pushes the path component past the
#     filesystem's 255-byte limit crash the write task;
#   - values that spoof our own escape marker would decode wrongly.
# The write side diverts exactly these to marker strings (injective, safe
# dir names); the read side RECOMPUTES flagged columns from the source data
# columns (transforms are deterministic and the source columns are stored
# in full inside the files), so every hostile value round-trips exactly.
# Clean values are untouched: no marker, no recompute, dir-level partition
# pruning intact — the cost is paid only by commits that contain hostile
# values (recorded per-commit in ``_bic_spec.json`` as ``esc_pcols``).
# The real Iceberg runtime avoids this class by making manifests — not
# paths — authoritative for partition values; recompute-from-source is the
# same principle at this fallback's fidelity.

HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"
ESC_MARK = "__BIC_ESC__"
# byte cap for one "<colname>=<escaped value>" path component (ext4/HDFS
# 255) with slack for the writer's task-attempt suffixing; the budget for
# the VALUE subtracts the actual column-name prefix per call, and Hive
# escaping turns each escapable ASCII byte into 3 ("%XX"), counted exactly
_COMPONENT_CAP = 240
# the characters Hive's escapePathName %-encodes (all single-byte ASCII)
_ESCAPABLE_RE = "[\\x00-\\x1f\\x7f\"#%'*/:=?\\\\{\\[\\]\\^]"


def unescape_path_name(name: str) -> str:
    """Hive/Spark ``ExternalCatalogUtils.unescapePathName``: decode every
    ``%XX`` (two hex digits) back to its character; malformed ``%``
    sequences pass through verbatim, matching the JVM implementation.

    Needed because the dir component is ``<escaped name>=<escaped
    value>``: the partition COLUMN NAME portion is escaped on disk too,
    while everything engine-side (``_p_{field_name}`` columns, spec
    fields, the esc_pcols recompute in ``_restore_pcols``) keys on the
    LOGICAL name. r11 ADVICE fix: esc_pcols recorded the escaped dir
    spelling, so a name with an escapable char (``a:b`` → ``a%3Ab``)
    never matched the restore lookup and the injective marker
    (``__BIC_ESC__empty`` etc.) leaked into reads."""
    if "%" not in name:
        return name
    out = []
    i = 0
    while i < len(name):
        c = name[i]
        if (
            c == "%"
            and len(name) - i >= 3
            and name[i + 1] in "0123456789abcdefABCDEF"
            and name[i + 2] in "0123456789abcdefABCDEF"
        ):
            out.append(chr(int(name[i + 1 : i + 3], 16)))
            i += 3
            continue
        out.append(c)
        i += 1
    return "".join(out)


def encode_hostile_pcol(col: Column, colname: str) -> Column:
    """Divert dir-encoding-hostile string partition values to injective
    marker strings (see module comment above). NULL passes through (its
    default-partition dir is unambiguous once "" and the literal sentinel
    are diverted); every other value keeps its exact self. ``colname`` is
    the partition column's name — the dir component is
    ``<name>=<escaped value>``, so a long NAME shrinks the value budget
    (a fixed headroom let a 36-char name + 220-byte clean value blow the
    255-byte cap the guard exists to prevent)."""
    import re as _re

    # scientific-notation DoS guard (r11): Spark's partition-dir parser
    # evaluates its decimal Try EAGERLY even with type inference OFF
    # (upstream bug), so a VALUE like "1e438614392" written verbatim as a
    # dir component makes every later read of the table materialize
    # 10^438614392 as a BigInteger — an hours-long driver spin. Divert
    # any full numeric-with-exponent form whose exponent has 4+ digits
    # (≥1e1000 — no sane partition value; small exponents like "1e5"
    # keep round-tripping verbatim, pinned since r10).
    sci_bomb = col.rlike(
        r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)[eE][+-]?[0-9]{4,}$"
    )
    esc_cnt = F.length(col) - F.length(
        F.regexp_replace(col, _ESCAPABLE_RE, "")
    )
    # the NAME is Hive-escaped in the component too: bytes + 2/escapable
    name_bytes = len(colname.encode()) + 2 * len(
        _re.findall(_ESCAPABLE_RE, colname)
    )
    budget = _COMPONENT_CAP - name_bytes - 1  # "<escaped name>="
    too_long = (F.octet_length(col) + 2 * esc_cnt) > budget
    hashed = F.lower(F.hex(F.xxhash64(col)))
    return (
        F.when(too_long, F.concat(F.lit(ESC_MARK + "long_"), hashed))
        .when(col == "", F.lit(ESC_MARK + "empty"))
        .when(col == HIVE_DEFAULT, F.lit(ESC_MARK + "hive"))
        .when(sci_bomb, F.concat(F.lit(ESC_MARK + "num_"), hashed))
        .when(
            col.startswith(ESC_MARK),
            F.concat(F.lit(ESC_MARK + "esc_"), hashed),
        )
        .otherwise(col)
    )


def as_fields(spec: list[PartitionField | tuple | list]) -> list[PartitionField]:
    """Spec entries as PartitionFields; tuples and lists are unpacked."""
    return [f if isinstance(f, PartitionField) else PartitionField(*f)
            for f in spec]


def partition_key(df: DataFrame, spec: list[PartitionField | tuple]) -> DataFrame:
    """Attach the Iceberg-style partition key columns (prefix ``_p_``).

    Mirrors _partition_records' key computation (connector.py:289-327) as a
    single projection; the subsequent groupBy/repartition on these columns is
    the distributed analogue of its Python ``partitions[key].append(record)``
    loop. An empty spec returns the frame unchanged (unpartitioned table,
    connector.py:286-288).
    """
    fields = as_fields(spec)
    dtypes = dict(df.dtypes)
    out = df
    for f in fields:
        out = out.withColumn(
            f"_p_{f.field_name}",
            transform_column(f.source, f.transform, dtypes.get(f.source, "")),
        )
    return out


def partition_columns(spec: list[PartitionField | tuple]) -> list[str]:
    return [f"_p_{f.field_name}" for f in as_fields(spec)]
