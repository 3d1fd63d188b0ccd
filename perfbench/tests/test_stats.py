"""The percentile helper and its sample-count rule, and the figures
pooled over measurement units."""

import pytest

from perfbench import stats


def test_p90_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(100)), 0.9) == 89
    assert stats.samples_beyond(100, 0.9) == 10


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 20  # 100 samples, 20 of each
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.75) == 4.0


def test_summary_picks_highest_allowed_tail():
    s = stats.summary([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5
    assert "p75" in s and "p90" not in s and "p99" not in s
    s = stats.summary([float(i) for i in range(1000)])
    assert "p99" in s
    assert stats.summary([1.0, 2.0]) == {"n": 2, "p50": 1.5}
    assert stats.summary([]) == {"n": 0, "p50": None}


def test_units_pool_primary_latency_and_rate():
    from perfbench.workloads import Units

    units = Units()
    for scale in (1.0, 5.0, 1.2):
        units.start()
        for secs, primary in ((0.1, True), (0.1, True), (1.0, False)):
            units.add(secs * scale, primary)
        units.end(busy_only=True)
    e2e = units.end_to_end()
    # median of the six primary latencies 0.1, 0.1, 0.5, 0.5, 0.12, 0.12
    assert e2e["op_p50_ms"] == pytest.approx(120.0)
    assert e2e["ops_per_s"] == pytest.approx(9 / (1.2 * (1.0 + 5.0 + 1.2)))
    assert len(e2e["latency"]) == 9 and units.count == 3
