import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.trace import Patcher, Span, Tracer, interval_union, parquet_stats, self_time


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (2, 3)]) == 2.0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert interval_union([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    parent = Span(0, "batch", 0.0, 10.0)
    kids = [
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 4.0, parent=0),   # overlaps a: union is 1..4
        Span(3, "c", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_inherits_units():
    tr = Tracer()
    with tr.span("batch", unit=3) as outer:
        with tr.span("inner") as inner:
            pass
    with tr.span("loose"):
        pass
    assert inner.parent == outer.id and inner.unit == 3
    assert tr.children(outer) == [inner]
    assert tr.named("loose")[0].parent is None
    assert all(s.end >= s.start for s in tr.spans)


def test_patcher_wraps_and_restores():
    class Box:
        def f(self, x):
            return x + 1

    calls = []

    def make(orig):
        def wrapper(self, x):
            calls.append(x)
            return orig(self, x)

        return wrapper

    p = Patcher()
    p.wrap(Box, "f", make)
    assert Box().f(1) == 2 and calls == [1]
    p.restore()
    assert Box().f(1) == 2 and calls == [1]


def test_parquet_stats_reads_footers(tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(pa.table({"a": list(range(7))}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": list(range(5))}), d / "part-1.parquet")
    (d / "_SUCCESS").write_text("")
    rows, nbytes = parquet_stats(str(d))
    assert rows == 12
    assert nbytes == sum(p.stat().st_size for p in d.glob("*.parquet"))
    assert parquet_stats("file://" + str(d / "part-1.parquet"))[0] == 5
