"""Self-tests for the benchmark's measurement helpers.

    python3 -m pytest perfbench/test_harness.py -q

They need no Spark session: the event-log test reads
``eventlog_small.jsonl``, a trimmed log recorded from a local Spark
run with two job groups.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    Span,
    Tally,
    cpu_between,
    cpu_snapshot,
    jobs_by_op,
    parse_event_log,
    percentile,
    self_times,
    tail_percentile,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, p, beyond",
    [
        (5, 50.0, 2),     # too few for any tail: the median
        (20, 50.0, 10),   # exactly ten above the median
        (25, 60.0, 10),
        (100, 90.0, 10),  # p95 would leave five beyond
        (199, 95.0, 10),
        (1000, 99.0, 10),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p, beyond):
    xs = [float(i) for i in reversed(range(n))]
    got_p, value, got_beyond = tail_percentile(xs)
    assert got_p == p
    assert value == percentile(xs, p)
    assert got_beyond == beyond == sum(1 for x in xs if x > value)


def test_tail_percentile_counts_ties_as_not_beyond():
    xs = [1.0] * 30 + [2.0] * 5
    assert tail_percentile(xs)[0] == 50.0  # nothing lies above 1.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("plan", 1.0, 4.0, 0, 0),
        Span("exec", 3.0, 7.0, 0, 0),      # overlaps plan: union is 1..7
        Span("inner", 5.0, 6.0, 2, 0),     # grandchild: not the op's child
        Span("late", 9.5, 12.0, 0, 0),     # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 6.0 - 0.5)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(4.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.5)


def test_self_times_sum_to_root_duration_when_children_nest():
    spans = [
        Span("op", 0.0, 8.0, None, 0),
        Span("a", 0.5, 3.0, 0, 0),
        Span("b", 3.0, 7.5, 0, 0),
        Span("b1", 4.0, 5.0, 2, 0),
    ]
    assert sum(self_times(spans)) == pytest.approx(8.0)


def test_tally_counts_raised_and_wrong_against_attempted():
    t = Tally()
    t.attempted = 8
    t.raise_("q1", RuntimeError("boom"))
    t.wrong_("q2", "row 3 differs")
    assert t.failed == 2
    assert t.failed_frac == pytest.approx(0.25)
    assert t.errors[0].startswith("q1: RuntimeError: boom")
    assert "wrong answer" in t.errors[1]
    assert Tally().failed_frac == 1.0  # nothing attempted is not a pass


def test_parse_event_log_sums_task_metrics_per_job():
    jobs = parse_event_log(os.path.join(HERE, "eventlog_small.jsonl"))
    by_group = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    assert set(by_group) == {"op0", "op1"}
    (j0,) = by_group["op0"]
    assert (j0.stages, j0.tasks) == (1, 2)
    assert j0.run_ms > 0 and j0.shuffle_write == 0
    # op1 is a grouped aggregate: a map stage that writes shuffle
    # output and a reduce stage that reads it back
    j1 = by_group["op1"]
    assert sum(j.stages for j in j1) >= 2
    assert sum(j.shuffle_write for j in j1) > 0
    assert sum(j.shuffle_read for j in j1) == sum(j.shuffle_write for j in j1)


def test_jobs_by_op_prefers_group_then_window():
    jobs = parse_event_log(os.path.join(HERE, "eventlog_small.jsonl"))
    t = [j.submit_ms / 1000.0 for j in jobs]
    # no window holds any job, so only the group assigns them
    out = jobs_by_op(jobs, {0: (0.0, 1.0), 1: (2.0, 3.0)})
    assert [len(out[0]), len(out[1])] == [
        sum(j.group == "op0" for j in jobs), sum(j.group == "op1" for j in jobs)
    ]
    # an op id no job names: jobs are placed by submission time
    for j in jobs:
        j.group = None
    out = jobs_by_op(jobs, {7: (min(t) - 1.0, max(t) + 1.0)})
    assert len(out[7]) == len(jobs)


def test_cpu_between_counts_reaped_children():
    hz = os.sysconf("SC_CLK_TCK")
    # process 3 exited and was reaped: its 20 ticks and 10 more it used
    # now sit in process 1's cutime
    before = {1: 100, 2: 50, 3: 20}
    after = {1: 160, 2: 90}
    assert cpu_between(before, after) == pytest.approx((250 - 170) / hz)


def test_cpu_snapshot_sees_this_process_work():
    before = cpu_snapshot()
    assert os.getpid() in before
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert cpu_between(before, cpu_snapshot()) >= 0.2
