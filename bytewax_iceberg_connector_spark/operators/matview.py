"""Continuous aggregate: an incrementally-maintained aggregate table over
an append-mostly LakeSink base table (TimescaleDB's continuous aggregates /
the materialized-view refresh loop every lakehouse team hand-rolls).

``refresh()`` advances the view from the base table's snapshot log:
only the commits appended since the last refresh are aggregated (via
``LakeSink.read_incremental``) and folded into the existing aggregate
rows — the base table is NOT re-scanned. If the snapshot range crosses a
replacing commit (overwrite / delete / compaction), incremental deltas
are undefined, and refresh transparently falls back to a full recompute —
correctness never depends on the fast path applying.

The refresh watermark (the base snapshot id the view reflects) rides in
the aggregate table's own commit metadata (``batch_id``), so the view
stays self-describing and crash-safe: a failed refresh leaves the old
snapshot, a re-run reads the watermark back and redoes the same delta.

Scale: the delta aggregate is word-count-shaped (map-side partial agg over
only the new files); the fold touches aggregate-table-sized data — group
count, not raw-row count. Measures are kept ADDITIVE (decimal sums +
counts) so folding is exact: avg and friends derive at read time
(sum/count), the standard mergeable-aggregate discipline (same reason
sketch_rollup stores HLL sketches, not estimates).

Reference scope: the reference lands rows into Iceberg and leaves rollups
to the warehouse (connector.py:245); the north star's "hypertable rollup"
names exactly this maintained-aggregate capability.

Scope: the watermark mechanism reads a ``LakeSink``'s snapshot log. An
``IcebergRuntimeSink`` base (operators/iceberg_sink.py) has no such log:
neither the base head nor the ``batch_id`` watermark is visible, so
``refresh()`` degrades to a FULL recompute every call (correct, never
incremental) and warns. Wiring that path needs the runtime's own snapshot
ids (``<table>.snapshots``) plus a table-property watermark — untestable
without the runtime jar, so the degrade is explicit rather than pretended
away.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec
from .iceberg_sink import IcebergRuntimeSink
from .sink import LakeSink

_SUM_SCALE = 2


class ContinuousAggregate:
    """Maintains ``agg`` = SELECT group_cols, SUM(m)..., COUNT(*) FROM base.

    measures: mapping of output column -> source column summed as exact
    decimal; a ``n_rows`` count column is always maintained.
    """

    def __init__(
        self,
        base: LakeSink,
        agg: LakeSink,
        group_exprs: dict[str, Column | str],
        measures: dict[str, str],
    ) -> None:
        self.base = base
        self.agg = agg
        self.group_exprs = group_exprs
        self.measures = measures

    # -- internals ---------------------------------------------------------

    def _aggregate(self, df: DataFrame) -> DataFrame:
        keys = [
            (F.col(e) if isinstance(e, str) else e).alias(name)
            for name, e in self.group_exprs.items()
        ]
        # dec() takes SQL text: quote the user's column name as one identifier
        sums = [
            F.sum(dec(f"`{src.replace('`', '``')}`", _SUM_SCALE))
            .cast(f"decimal(18,{_SUM_SCALE})").alias(out)
            for out, src in self.measures.items()
        ]
        return df.groupBy(*keys).agg(*sums, F.count("*").alias("n_rows"))

    def _fold(self, existing: DataFrame, delta_agg: DataFrame) -> DataFrame:
        keys = list(self.group_exprs)
        merged = existing.unionByName(delta_agg)
        sums = [
            F.sum(out).cast(f"decimal(18,{_SUM_SCALE})").alias(out)
            for out in self.measures
        ]
        return merged.groupBy(*keys).agg(*sums, F.sum("n_rows").alias("n_rows"))

    def last_refreshed(self) -> int | None:
        """Base-table snapshot id the view currently reflects (None on an
        ``IcebergRuntimeSink``: no snapshot log holds the watermark)."""
        if isinstance(self.agg, IcebergRuntimeSink) or not self.agg.table_exists():
            return None
        ids = self.agg._log.committed_batch_ids()
        return max(ids) if ids else None

    # -- public ------------------------------------------------------------

    def refresh(self) -> dict:
        """Advance the view to the base table's head snapshot. Returns
        ``{"refreshed_to": id, "mode": "noop"|"incremental"|"full"}``."""
        if isinstance(self.base, IcebergRuntimeSink):  # see module docstring
            import warnings

            warnings.warn(
                "ContinuousAggregate on the iceberg backend recomputes in "
                "full every refresh (no snapshot-log watermark there)",
                stacklevel=2,
            )
            merged = self._aggregate(self.base.read())
            self.agg.overwrite(merged)
            return {"refreshed_to": None, "mode": "full"}
        head = self.base._log.current_id()
        last = self.last_refreshed()
        if last == head:
            return {"refreshed_to": head, "mode": "noop"}

        mode = "full"
        if last is not None:
            try:
                delta = self.base.read_incremental(last, head)
                existing = self.read()
                merged = self._fold(existing, self._aggregate(delta))
                mode = "incremental"
            except (ValueError, LookupError):
                # replacing commit in range, or the watermark snapshot
                # itself was expired since the last refresh → full
                # recompute
                merged = None
        if mode == "full":
            current = self.base.read()
            data_cols = [c for c in current.columns if not c.startswith("_p_")]
            merged = self._aggregate(current.select(*data_cols))
        self.agg.overwrite(merged, batch_id=head)
        return {"refreshed_to": head, "mode": mode}

    def read(self) -> DataFrame:
        view = self.agg.read()
        cols = [c for c in view.columns if not c.startswith("_p_")]
        return view.select(*cols)
