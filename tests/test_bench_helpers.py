"""Unit tests for bench.py's pure helpers (no SparkSession needed).

The live-latency leg's verdicts (cadence_sustained, backlog_stable) hang
off _pctl and the least-squares latency slope; a sign error there would
flip the claim BASELINE.md records, so they get direct coverage.
"""

import bench


def test_pctl_empty():
    assert bench._pctl([], 0.5) is None


def test_pctl_single():
    assert bench._pctl([7.0], 0.5) == 7.0
    assert bench._pctl([7.0], 0.95) == 7.0


def test_pctl_nearest_rank():
    xs = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert bench._pctl(xs, 0.5) == 30.0
    assert bench._pctl(xs, 0.0) == 10.0
    assert bench._pctl(xs, 1.0) == 50.0
    # unsorted input is sorted internally
    assert bench._pctl(list(reversed(xs)), 0.5) == 30.0


def _slope(lat_ms):
    """Mirror of the inline least-squares in _live_latency."""
    n = len(lat_ms)
    mx, my = (n - 1) / 2.0, sum(lat_ms) / n
    sxx = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(lat_ms)) / sxx


def test_latency_slope_flat_is_stable():
    assert abs(_slope([1000.0] * 10)) < 1e-9


def test_latency_slope_queueing_is_positive():
    # each drop waits one extra second: textbook unbounded queueing
    assert _slope([1000.0 + 1000.0 * i for i in range(10)]) > 900.0


def test_latency_slope_catchup_is_negative():
    assert _slope([2000.0, 1500.0, 1200.0, 1000.0, 950.0]) < 0.0

