"""Tests for the machine-speed factor that scales end-to-end times and
for the process-tree memory sampler.

    python -m pytest perfbench/tests -q
"""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from common import (CALIB_REF_S, Speed, TreeRss, percentile,  # noqa: E402
                    tree_rss_bytes)


def _speed(times, durations):
    s = Speed()
    s.times, s.durations = list(times), list(durations)
    return s


def test_factor_is_windowed_median_over_reference():
    s = _speed([0.0, 1.0, 2.0, 3.0], [1e-3, 3e-3, 2e-3, 9e-3])
    assert s.factor(0.5, 2.5) == pytest.approx(2.5e-3 / CALIB_REF_S)
    assert s.factor() == pytest.approx(2.5e-3 / CALIB_REF_S)


def test_factor_falls_back_to_nearest_sample():
    s = _speed([0.0, 10.0], [1e-3, 4e-3])
    assert s.factor(2.0, 3.0) == pytest.approx(1.0)     # nearer to t=0
    assert s.factor(8.0, 9.0) == pytest.approx(4.0)     # nearer to t=10
    assert s.factor(11.0, 12.0) == pytest.approx(4.0)   # after the last


def test_burst_samples_back_to_back():
    s = Speed()
    s.burst(3)
    assert len(s.times) == 3 and s.times == sorted(s.times)
    assert all(d > 0 for d in s.durations)


def _fake_proc(root, procs):
    for pid, (ppid, rss_pages) in procs.items():
        os.makedirs(os.path.join(root, str(pid)))
        rest = ["S", str(ppid)] + ["0"] * 19 + [str(rss_pages)] + ["0"] * 5
        with open(os.path.join(root, str(pid), "stat"), "w") as fh:
            fh.write(f"{pid} (a) b) " + " ".join(rest) + "\n")


def test_tree_rss_sums_descendants_only(tmp_path):
    # 10 -> 11 -> 12, and 13 outside the tree; a ")" in a command name
    _fake_proc(str(tmp_path), {10: (1, 1), 11: (10, 2), 12: (11, 4),
                               13: (1, 8)})
    os.makedirs(tmp_path / "self")
    page = os.sysconf("SC_PAGE_SIZE")
    assert tree_rss_bytes(10, str(tmp_path)) == 7 * page
    assert tree_rss_bytes(11, str(tmp_path)) == 6 * page
    assert tree_rss_bytes(99, str(tmp_path)) == 0


def test_tree_rss_sampler_sees_this_process():
    r = TreeRss(period=0.01)
    r.start()
    r.stop()
    assert r.peak_mb > 1


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == 5.0
    assert percentile(xs, 0) == 1.0


def test_geo_rate_weights_every_class_equally():
    from workloads import geo_rate
    lat = {"slow": [100.0, 100.0], "fast": [0.1, 0.1, 0.1, 0.1],
           "mid": [1.0]}
    assert geo_rate(lat) == pytest.approx((10 * 10_000 * 1000) ** (1 / 3))
    for cls in lat:   # a 2x slower class of any kind: the same drop
        slower = {k: [2 * x for x in v] if k == cls else v
                  for k, v in lat.items()}
        assert geo_rate(slower) / geo_rate(lat) == pytest.approx(2 ** (-1 / 3))
