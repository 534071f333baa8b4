"""Percentile and failure accounting."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 45)]
    assert stats.tail_pct(44) == pytest.approx(77.27, abs=0.01)
    assert stats.tail(values) == 34.0  # ten samples (35..44) lie beyond
    assert stats.tail(values[:32]) == 22.0
    assert stats.tail(values[:20]) == 10.0  # the median: the shortest run with a tail
    with pytest.raises(ValueError):
        stats.tail(values[:19])


def test_percentile_is_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert stats.percentile([5.0], 0) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _log(n: int, failed: set[int], seconds: float = 1.0) -> stats.OpLog:
    log = stats.OpLog()
    for i in range(n):
        log.add(f"op{i}", seconds, i not in failed)
    return log


def test_failed_op_is_infinite_and_counted():
    log = _log(stats.MIN_OPS, failed={3})
    assert log.attempted == stats.MIN_OPS and log.failed == 1
    lat = log.latencies_ms()
    assert lat[3] == math.inf and sorted(lat)[-1] == math.inf
    s = log.summary()
    assert s["ok_op_ratio"] == pytest.approx(24 / 25)


def test_failures_push_the_percentiles_up():
    # ten failures sit beyond the tail rank: the tail is still finite
    assert math.isfinite(_log(25, failed=set(range(10))).summary()["op_tail_ms"])
    # one more and the tail itself is a failure
    assert _log(25, failed=set(range(11))).summary()["op_tail_ms"] == math.inf
    assert _log(25, failed=set(range(13))).summary()["op_p50_ms"] == math.inf


def test_failing_op_never_shrinks_the_throughput_denominator():
    ok = _log(25, failed=set()).summary()["ops_per_s"]
    # a fast failure must not read as a speed-up
    log = _log(24, failed=set())
    log.add("boom", 0.001, False)
    assert log.summary()["ops_per_s"] < ok
    # the failed op's time stays in the denominator
    assert log.summary()["ops_per_s"] == pytest.approx(24 / 24.001)
