import threading

import numpy as np
import pytest

from perfbench.stats import (
    TAIL_LADDER,
    Op,
    Outcomes,
    Span,
    layer_self_times,
    op_tail,
    percentile,
    fixed_tail_percentile,
    samples_beyond,
    self_times,
    tail_percentile,
    trace_overhead,
)


@pytest.mark.parametrize("n, p", [(0, None), (19, None), (20, 50.0), (36, 70.0),
                                  (39, 70.0), (40, 75.0), (50, 80.0), (99, 80.0),
                                  (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
                                  (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert samples_beyond(n, p) >= 10


def test_tail_percentile_is_the_highest_that_qualifies():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        higher = [q for q in TAIL_LADDER if q > p]
        assert all(samples_beyond(n, q) < 10 for q in higher)


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=37).tolist()
    for p in (0, 10, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_fixed_tail_percentile_falls_back_to_the_slowest_op():
    assert fixed_tail_percentile(36) == 70.0
    assert fixed_tail_percentile(7) == 100.0


def test_op_tail_reports_samples_beyond():
    xs = list(range(1, 41))
    value, beyond = op_tail(xs, 75.0)
    assert value == pytest.approx(np.percentile(xs, 75))
    assert beyond == 10
    assert op_tail(xs, 100.0) == (40, 0)


def _span(i, parent, start, end, name="x.y"):
    return Span(span_id=i, name=name, trace_id=1, parent_id=parent, start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "bench.op"),
        _span(2, 1, 1.0, 4.0, "plans.build"),
        _span(3, 1, 3.0, 6.0, "plans.exec"),  # overlaps its sibling
        _span(4, 3, 3.5, 5.0, "barrier.lazy"),
        _span(5, 1, 9.0, 12.0, "plans.late"),  # runs past its parent
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - (5.0 + 1.0))  # [1,6] and [9,10]
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(3.0 - 1.5)
    assert own[4] == pytest.approx(1.5)
    layers = layer_self_times(spans)
    assert layers["bench"] == pytest.approx(4.0)
    assert layers["plans"] == pytest.approx(3.0 + 1.5 + 3.0)
    assert layers["barrier"] == pytest.approx(1.5)


def test_self_times_sum_to_root_duration_when_children_nest():
    spans = [_span(1, None, 0.0, 8.0), _span(2, 1, 1.0, 5.0), _span(3, 2, 2.0, 3.0)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_outcomes_count_failures_against_attempts():
    o = Outcomes()
    o.record(True)
    o.record(False, "q1", "boom")
    o.record(True)
    o.fail("q1", "wrong rows")  # a later check on an op already tallied
    assert (o.attempted, o.failed) == (3, 2)
    assert o.failed_frac == pytest.approx(2 / 3)
    assert o.failures == ["q1: boom", "q1: wrong rows"]


def test_outcomes_with_nothing_attempted_is_all_failed():
    assert Outcomes().failed_frac == 1.0


def test_outcomes_is_thread_safe():
    o = Outcomes()

    def work():
        for i in range(2000):
            o.record(i % 10 != 0)

    threads = [threading.Thread(target=work) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert (o.attempted, o.failed) == (16000, 1600)


def test_trace_overhead_compares_kinds_seen_both_ways():
    ops = [Op("a", 1.0, True), Op("a", 0.8, False), Op("b", 3.0, True),
           Op("b", 2.6, False), Op("c", 9.0, True)]  # c only traced: left out
    on, off, diff, kinds = trace_overhead(ops)
    assert kinds == 2
    assert on == pytest.approx(2.0) and off == pytest.approx(1.7)
    assert diff == pytest.approx((0.2 + 0.4) / 2)
    assert trace_overhead([Op("a", 1.0, True)])[3] == 0
