"""Span bookkeeping and self-time arithmetic (no Spark)."""

import pytest

from spans import (RunView, Span, Tracer, median, percentile, self_times, tail_percentile,
                   union_length)


def span(i, parent, start, end, name="s", pass_id=0):
    return Span(i, name, parent, pass_id, start, end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(1, 4), (2, 3)]) == 3.0


def test_self_time_is_duration_minus_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 3.0, 6.0),   # overlaps its sibling: counted once
        span(3, 1, 1.5, 2.0),
        span(4, 0, 9.0, 12.0),  # runs past its parent: only 9..10 counts
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    # the self times of a tree add up to the root's duration when
    # children stay inside their parents and do not overlap
    flat = [span(0, None, 0, 8), span(1, 0, 1, 3), span(2, 0, 3, 7), span(3, 2, 4, 5)]
    assert sum(self_times(flat).values()) == pytest.approx(8.0)


def test_tracer_nests_and_orders_spans():
    tr = Tracer("t")
    tr.pass_id = 3
    with tr.span("a"):
        with tr.span("b"):
            pass
        sp = tr.open("c")
        tr.close(sp)
    a, b, c = tr.spans
    assert (a.parent, b.parent, c.parent) == (None, a.span_id, a.span_id)
    assert all(s.pass_id == 3 for s in tr.spans)
    assert a.start <= b.start <= b.end <= c.start <= c.end <= a.end
    assert tr.group_id(7) == "pb-span-t-7"
    outer = tr.open("x")
    tr.open("y")
    with pytest.raises(RuntimeError):
        tr.close(outer)


def test_run_view_takes_median_of_per_pass_sums():
    spans = [
        span(0, None, 0, 10, "pass", 0), span(1, 0, 0, 2, "op", 0), span(2, 0, 2, 3, "op", 0),
        span(3, None, 0, 10, "pass", 1), span(4, 3, 0, 5, "op", 1),
        span(5, None, 0, 10, "pass", 2), span(6, 5, 0, 9, "op", 2),
        span(7, None, 0, 0.5, "op", None), span(8, None, 0, 1.5, "op", None),
    ]
    v = RunView(spans, traced_passes=[1], untraced_passes=[0, 2])
    assert v.untraced("op") == pytest.approx(6.0)  # median of 3 and 9
    assert v.traced("op") == pytest.approx(5.0)
    assert v.probe("op") == pytest.approx(1.0)
    assert v.traced("missing") == 0.0


def test_percentiles():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([4.0], 99) == 4.0
    assert tail_percentile(5) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_trace_overhead_pairs_adjacent_passes_of_each_kind():
    # U T T U U: pass durations drift down by 1 s each pass (warm-up),
    # tracing costs 0.5 s; the pairs (0, 1) and (2, 3) see +0.5-1 and
    # +0.5+1, whose median is the true 0.5; pass 4 has no partner
    durs = [10.0, 9.5, 8.5, 7.0, 6.0]
    spans = [span(i, None, 0, d, "pass", i) for i, d in enumerate(durs)]
    spans.append(span(5, None, 0, 20, "pass", -1))  # warm-up, neither kind
    v = RunView(spans, traced_passes=[1, 2], untraced_passes=[0, 3, 4])
    assert v.trace_overhead() == pytest.approx([-0.5, 1.5])
    assert median(v.trace_overhead()) == pytest.approx(0.5)


def test_partition_latencies_leave_out_listing_and_injected_day():
    spans = [
        span(0, None, 0, 10, "pass", 0), span(1, 0, 0, 9, "manifest.run", 0),
        span(2, 1, 0, 3, "manifest.partition", 0),           # holds the listing job
        span(3, 1, 3, 5, "manifest.partition", 0),
        span(4, 1, 5, 5.1, "manifest.partition_injected", 0),
        span(5, 1, 5.1, 5.2, "manifest.summary", 0),
        span(6, None, 0, 10, "pass", 1), span(7, 6, 0, 9, "manifest.run", 1),
        span(8, 7, 0, 3, "manifest.partition", 1), span(9, 7, 3, 7, "manifest.partition", 1),
    ]
    v = RunView(spans, traced_passes=[1], untraced_passes=[0])
    assert v.untraced_partitions() == pytest.approx([2.0])
