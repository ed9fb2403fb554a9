"""The tail-percentile rule and the latency summaries."""

import pytest

import metrics
import workloads


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.percentile(values, 50) == 3.0
    assert metrics.percentile(values, 100) == 5.0
    assert metrics.percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_beyond_counts_samples_above_the_percentile():
    assert metrics.beyond(100, 90) == 10
    assert metrics.beyond(100, 91) == 9
    assert metrics.beyond(30, 66) == 10
    assert metrics.beyond(30, 67) == 9


@pytest.mark.parametrize(
    "n, expected", [(10, None), (11, 9), (20, 50), (30, 66), (33, 69), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = metrics.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert metrics.beyond(n, p) >= 10
        assert p == 99 or metrics.beyond(n, p + 1) < 10


def test_reported_tail_percentiles_at_the_minimum_op_count():
    # op_tail_s is the highest percentile with >= 10 ops beyond it at the
    # fewest ops a run measures; README.md and BENCHMARK.json name them
    tails = {name: metrics.tail_of_workload(cls(0, "unused").cycle_len)
             for name, cls in workloads.WORKLOADS.items()}
    assert tails == {"catalog": 62, "tasks": 69}


def test_reported_percentiles_pick_the_middle_run_of_one_kind():
    # Three cycles of an odd number of kinds: sorted, the latencies fall
    # into groups of three, one per kind when the kinds' latencies are
    # apart. p50 and the tail then read the middle run of one kind, not
    # the edge between two kinds (as an even kind count would put p50).
    for cls in workloads.WORKLOADS.values():
        kinds = cls(0, "unused").cycle_len
        values = [k + r / 10 for k in range(kinds) for r in range(3)]
        for p in (50, metrics.tail_of_workload(kinds)):
            assert round(metrics.percentile(values, p) % 1, 6) == 0.1
