"""Row-level MERGE (upsert) — the lakehouse mutation the reference's
append-only sink cannot express (connector.py has only ``table.append``,
:245; README.md:68 "Static schemas only" / append-only design).

``merge_upsert`` implements MERGE semantics as a DataFrame composition:

    MERGE INTO target USING updates ON <keys>
    WHEN MATCHED THEN UPDATE SET *        (update wins)
    WHEN NOT MATCHED THEN INSERT *

With iceberg-spark-runtime on the classpath you'd hand the same statement
to ``spark.sql("MERGE INTO ...")`` and Iceberg executes it copy-on-write /
merge-on-read; this composition IS the copy-on-write plan Iceberg builds
internally (anti-join survivors ∪ updates), so the parquet-warehouse
backend gets identical semantics.

Scale notes:
- one shuffle each side on the merge keys (the join); the anti-join and
  the union reuse the same partitioning — Catalyst plans one exchange per
  side, no extra pass;
- at 100 TB the win is Iceberg's file-level pruning: only files whose
  key-range stats overlap the update batch are rewritten; the DataFrame
  fallback rewrites the whole table (documented trade-off);
- updates must be UNIQUE per key (standard MERGE precondition —
  duplicate-key update batches make MERGE nondeterministic; we enforce
  deterministically instead of silently picking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import qcol


def latest_per_key(df: DataFrame, keys: list[str],
                   order_cols: list[str]) -> DataFrame:
    """One row per ``keys``: the row with the greatest ``order_cols``
    (compared left to right, NULLs last) — the within-batch winner MERGE
    needs, since duplicate source keys make it nondeterministic (or abort,
    on the Iceberg runtime's cardinality check)."""
    w = Window.partitionBy(*[qcol(k) for k in keys]).orderBy(
        *[qcol(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_bic_rn", F.row_number().over(w))
        .where(F.col("_bic_rn") == 1)
        .drop("_bic_rn")
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` on ``keys``; update rows replace
    matched target rows, unmatched insert.

    Schema alignment (r06, schema-evolution interplay): an update batch
    written against the PRE-evolution schema may lack columns the target
    has since gained — those null-fill in the new row versions, exactly
    ``UPDATE SET *`` semantics with an aligned-by-name source (and how
    Iceberg's MERGE behaves once the source is aligned). Updates may not
    carry columns the target lacks — widen the TABLE first (append with
    the new column), not via a side door in MERGE.

    ``tiebreak``: when the update batch can carry duplicate keys, keep the
    greatest-tiebreak row per key (deterministic); None asserts uniqueness
    is the caller's contract.
    """
    extra = set(updates.columns) - set(target.columns)
    if extra:
        raise ValueError(
            f"updates carry columns the target lacks: {sorted(extra)} — "
            "evolve the table schema first (append), then MERGE"
        )
    # qcol everywhere a name becomes a Column: F.col("a.b")/select("a.b")
    # parse the dot as struct access and fail on a literally-dotted
    # column name (r10 hostile-column-names find)
    if tiebreak is not None:
        updates = latest_per_key(updates, keys, [tiebreak])
    missing = [c for c in target.columns if c not in updates.columns]
    for c in missing:
        updates = updates.withColumn(
            c, F.lit(None).cast(dict(target.dtypes)[c])
        )
    survivors = target.join(
        updates.select(*[qcol(k) for k in keys]), on=keys, how="left_anti"
    )
    return survivors.unionByName(
        updates.select(*[qcol(c) for c in target.columns])
    )
