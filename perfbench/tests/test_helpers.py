"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import common  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402


# --- percentiles -------------------------------------------------------------


def test_median_odd_and_even():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        common.median([])


def test_quartiles_match_statistics_quantiles():
    import statistics

    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
    q1, q2, q3 = common.quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert q2 == common.median(values)
    assert common.iqr_share(values) == pytest.approx((q3 - q1) / q2)


def test_single_sample_is_its_own_quartiles():
    assert common.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert common.iqr_share([2.5]) == 0.0


def test_tracing_overhead_cancels_linear_drift():
    # ops 0..5 cost 10, 11, ... s, op 0 two seconds more, and the
    # traced ops 2 and 4 half a second more
    walls = [12.0, 11.0, 12.5, 13.0, 14.5, 15.0]
    assert common.tracing_overhead(walls) == pytest.approx(0.5)
    # a traced last op has no right neighbour and is left out
    assert common.tracing_overhead(walls[:5]) == pytest.approx(0.5)


# --- self time ---------------------------------------------------------------


def _span(i, start, end, parent=None, thread=1, name="x"):
    return Span(i, name, start, end, parent, 0, thread)


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_nested_children_on_one_thread():
    s = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, parent=0), _span(2, 4.0, 8.0, parent=0),
         _span(3, 5.0, 6.0, parent=2)]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_with_overlapping_children_on_other_threads():
    """A pool runs two children in parallel: their busy time (4 + 4 s)
    exceeds the parent's 6 s, yet the parent's self time is its time
    outside their union and never negative."""
    s = [
        _span(0, 0.0, 6.0, thread=1),
        _span(1, 1.0, 5.0, parent=0, thread=2),
        _span(2, 2.0, 6.0, parent=0, thread=3),
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(4.0) and st[2] == pytest.approx(4.0)
    assert st[1] + st[2] > s[0].duration


def test_child_outliving_its_parent_is_clipped():
    s = [_span(0, 0.0, 2.0), _span(1, 1.0, 5.0, parent=0, thread=2)]
    assert spans.self_times(s)[0] == pytest.approx(1.0)


def test_tracer_parents_pool_thread_spans_to_the_op_span():
    tr = spans.Tracer()
    tr.begin_op(7)
    outer = tr.open("streaming.process_batch")
    seen = {}

    def work():
        a = tr.open("store.write_batch")
        b = tr.open("txnlog.append")
        tr.close(b)
        tr.close(a)
        seen["ids"] = (a.parent, b.parent, a.thread != outer.thread)

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.close(outer)
    tr.end_op()
    assert seen["ids"] == (outer.id, outer.id + 1, True)
    assert {s.op for s in tr.spans} == {7}
    assert tr.open("after the op") is None


def test_wrapper_records_spans_only_while_an_op_is_open():
    tr = spans.Tracer()
    wrapped = spans._wrap(tr, "layer.fn", lambda x: x * 2)
    assert wrapped(2) == 4 and tr.spans == []
    tr.begin_op(0)
    assert wrapped(3) == 6
    tr.end_op()
    assert [s.name for s in tr.spans] == ["layer.fn"] and tr.spans[0].end is not None


# --- attributing Spark jobs to an op window ---------------------------------


def test_jobs_in_window_takes_ids_above_the_start_mark():
    assert common.jobs_in_window([0, 1, 2, 5, 3, 4], 2) == [3, 4, 5]
    assert common.jobs_in_window([0, 1], 1) == []
    assert common.jobs_in_window([0, 1], -1) == [0, 1]


class _Job:
    def __init__(self, stages):
        self.stageIds = stages


class _Stage:
    def __init__(self, done):
        self.numCompletedTasks = done


class _Tracker:
    jobs = {3: _Job([5, 6]), 4: _Job([6, 7, 8])}
    stages = {5: _Stage(4), 6: _Stage(2), 7: _Stage(0), 8: None}

    def getJobInfo(self, j):
        return self.jobs.get(j)

    def getStageInfo(self, s):
        return self.stages.get(s)


class _SC:
    def statusTracker(self):
        return _Tracker()


def test_window_stats_counts_each_stage_once_and_skips_unrun_stages():
    assert common.window_stats(_SC(), [3, 4, 9]) == {"jobs": 3, "stages": 2, "tasks": 6}


# --- generators --------------------------------------------------------------


def test_stream_epochs_are_seeded_and_totals_count_unique_events(tmp_path):
    a = gen.stream_epochs(str(tmp_path / "a"), 5, 4, 200)
    b = gen.stream_epochs(str(tmp_path / "b"), 5, 4, 200)
    assert [open(e.path).read() for e in a] == [open(e.path).read() for e in b]
    c = gen.stream_epochs(str(tmp_path / "c"), 6, 4, 200)
    assert open(a[1].path).read() != open(c[1].path).read()
    assert a[0].dups == 0 and all(e.dups == 4 for e in a[1:])
    assert sum(n for n, _ in a[-1].totals.values()) == sum(e.sent - e.dups for e in a)
    assert a[0].new_fields == {} and all(len(e.new_fields) == 1 for e in a[1:])
    assert a[0].malformed == 0
    assert [e.malformed for e in a] == sorted(e.malformed for e in a)
