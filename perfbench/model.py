"""Reference model of the ``lake_mixed`` table: the rows the op sequence
must leave behind, kept by the benchmark beside the engine's table."""

from __future__ import annotations

from collections import Counter


#: positions in a row tuple (id, ts, grp, val, note)
GRP, VAL = 2, 3


class LakeModel:
    """Keyed rows (``id`` -> full row tuple) under append and upsert."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}

    def append(self, rows: list[tuple]) -> None:
        for row in rows:
            if row[0] in self.rows:
                raise ValueError(f"append of an existing id {row[0]}")
            self.rows[row[0]] = row

    def merge(self, rows: list[tuple]) -> None:
        for row in rows:
            self.rows[row[0]] = row

    def totals(self, lo: int | None = None,
               hi: int | None = None) -> tuple[int, float]:
        """(row count, sum of the value column) over ids in [lo, hi]."""
        n, s = 0, 0.0
        for key, row in self.rows.items():
            if (lo is None or key >= lo) and (hi is None or key <= hi):
                n += 1
                s += row[VAL]
        return n, s

    def group_totals(self) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = {}
        for row in self.rows.values():
            acc = out.setdefault(row[GRP], [0, 0.0])
            acc[0] += 1
            acc[1] += row[VAL]
        return {g: (n, s) for g, (n, s) in out.items()}


def diff(expected: list[tuple], actual: list[tuple]) -> tuple[Counter, Counter]:
    """Multiset difference both ways: (rows missing from ``actual``, rows
    ``actual`` has in excess). A dropped row shows in the first, a
    duplicated or altered row in the second."""
    want, have = Counter(expected), Counter(actual)
    return want - have, have - want


def check(model: LakeModel, actual: list[tuple]) -> str | None:
    """None when ``actual`` holds exactly the model's rows, else a short
    description of the first differences."""
    missing, extra = diff(list(model.rows.values()), actual)
    if not missing and not extra:
        return None
    return (
        f"{sum(missing.values())} rows missing (e.g. {list(missing)[:2]}), "
        f"{sum(extra.values())} rows in excess (e.g. {list(extra)[:2]})"
    )
