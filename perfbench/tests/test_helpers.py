"""Tests of the benchmark's helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, stats  # noqa: E402
from perfbench.model import LakeModel, check, diff  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402


# -- tail rule -----------------------------------------------------------------


@pytest.mark.parametrize("n, pct", [(20, 50), (21, 52), (40, 75), (100, 90),
                                    (1000, 99), (11, 9), (10, None)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_value_is_the_nearest_rank_with_ten_above():
    values = [float(i) for i in range(1, 41)]  # 1..40
    pct, value = stats.tail(values)
    assert pct == 75
    assert value == 30.0
    assert sum(v > value for v in values) == 10


def test_tail_refuses_a_sample_too_small_for_p50():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


def test_tail_summary_gives_no_tail_below_twenty_samples():
    assert stats.tail_summary([1.0] * 19)["tail"] is None
    assert stats.tail_summary([1.0] * 20)["tail_pct"] == 50


def test_window_size_depends_on_seconds_only():
    from perfbench.harness import Context, Window

    def measure(units):
        sizes.append(units)
        return Window()

    for seconds, want in ((10, 4), (20, 8), (1, 3)):
        sizes = []
        ctx = Context("analytics", 1, seconds, False, "", {})
        ctx.windows(measure, 0.4, 3)
        assert sizes == [want]
    sizes = []
    Context("analytics", 1, 10, True, "", {}).windows(measure, 0.4, 3)
    assert sizes == [2, 2]


def test_summarize_is_order_insensitive():
    values = [0.3, 0.1, 0.2] * 10
    assert stats.summarize(values) == stats.summarize(sorted(values))


# -- self time -------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return [name, start, end, parent, None, 0]


def test_self_time_subtracts_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 5.0, 9.0, parent=0),
        _span("a.child", 1.5, 2.5, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 4.0, 1.0])


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span("root", 0.0, 10.0),
        _span("x", 2.0, 6.0, parent=0),
        _span("y", 4.0, 8.0, parent=0),  # overlaps x: covered 2..8
        _span("z", 9.0, 12.0, parent=0),  # runs past the parent: 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_patch_records_nested_spans_and_restores():
    class Owner:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = Tracer()
    tracer.patch(Owner, "outer", "outer")
    tracer.patch(Owner, "inner", "inner")
    assert Owner().outer() == 2
    names = [s[0] for s in tracer.spans]
    assert names == ["outer", "inner"]
    assert tracer.spans[1][3] == 0  # inner's parent is outer
    tracer.unpatch()
    assert not hasattr(Owner.outer, "__perfbench_original__")
    assert Owner().outer() == 2
    assert len(tracer.spans) == 2


# -- seed determinism ------------------------------------------------------------


def _bytes(table, path):
    gen.write_parquet(table, path)
    with open(path, "rb") as f:
        return f.read()


def test_event_files_are_byte_identical_per_seed(tmp_path):
    a, ok_a = gen.event_file(7, 3, 500)
    b, ok_b = gen.event_file(7, 3, 500)
    c, _ = gen.event_file(8, 3, 500)
    assert _bytes(a, tmp_path / "a") == _bytes(b, tmp_path / "b")
    assert (ok_a == ok_b).all()
    assert _bytes(a, tmp_path / "a") != _bytes(c, tmp_path / "c")
    assert 0 < (~ok_a).sum() < 100  # a share of rows is invalid


def test_lake_rows_are_seeded(tmp_path):
    import numpy as np

    ids = np.arange(100, 200)
    a = gen.lake_rows(5, 2, ids)
    assert a.equals(gen.lake_rows(5, 2, ids))
    assert not a.equals(gen.lake_rows(5, 3, ids))


def test_corpus_is_byte_identical_per_seed(tmp_path):
    gen.write_corpus(11, 0.0001, str(tmp_path / "one"))
    gen.write_corpus(11, 0.0001, str(tmp_path / "two"))
    gen.write_corpus(12, 0.0001, str(tmp_path / "other"))
    for name in sorted(os.listdir(tmp_path / "one")):
        one = (tmp_path / "one" / name).read_bytes()
        assert one == (tmp_path / "two" / name).read_bytes(), name
    assert ((tmp_path / "one" / "lineitem.parquet").read_bytes()
            != (tmp_path / "other" / "lineitem.parquet").read_bytes())


# -- lake_mixed model check --------------------------------------------------------


def _model():
    m = LakeModel()
    m.append([(i, 1000 + i, "g0", float(i), "n") for i in range(5)])
    m.merge([(2, 2000, "g1", 20.0, "m"), (9, 9000, "g1", 9.0, "m")])
    return m


def test_model_applies_upserts():
    m = _model()
    assert len(m.rows) == 6
    assert m.rows[2] == (2, 2000, "g1", 20.0, "m")
    assert m.totals() == (6, 0.0 + 1 + 20 + 3 + 4 + 9)
    assert m.totals(1, 3) == (3, 1.0 + 20 + 3)
    assert m.group_totals() == {"g0": (4, 8.0), "g1": (2, 29.0)}


def test_model_check_accepts_the_same_rows_in_any_order():
    m = _model()
    assert check(m, list(reversed(list(m.rows.values())))) is None


def test_model_check_catches_a_dropped_row():
    m = _model()
    rows = list(m.rows.values())[1:]
    problem = check(m, rows)
    assert problem is not None and "1 rows missing" in problem


def test_model_check_catches_a_duplicated_row():
    m = _model()
    rows = list(m.rows.values())
    problem = check(m, rows + [rows[0]])
    assert problem is not None and "1 rows in excess" in problem


def test_model_check_catches_a_stale_version_of_an_upserted_row():
    m = _model()
    rows = [r for r in m.rows.values() if r[0] != 2] + [(2, 1002, "g0", 2.0, "n")]
    missing, extra = diff(list(m.rows.values()), rows)
    assert sum(missing.values()) == 1 and sum(extra.values()) == 1


def test_model_rejects_an_append_of_an_existing_id():
    with pytest.raises(ValueError):
        _model().append([(0, 0, "g0", 0.0, "n")])
