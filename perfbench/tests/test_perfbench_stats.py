import math
import os
import statistics
import subprocess
import sys
import time

import pytest

from perfbench import stats


def test_median_and_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    assert stats.median(values) == statistics.median(values)
    q = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q[0], q[2])


def test_spread_is_iqr_over_median():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # exclusive method: Q1 = 11.75, Q3 = 17.25, median = 14.5
    assert stats.spread(values) == pytest.approx(5.5 / 14.5)


def test_spread_of_identical_values_is_zero():
    assert stats.spread([2.5] * 10) == 0.0


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert stats.geomean([2.0]) == pytest.approx(2.0)
    assert math.isclose(stats.geomean([0.5, 2.0]), 1.0)


def test_peak_rss_counts_children_only():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        deadline = time.time() + 10
        while child.pid not in stats.descendants(os.getpid()) \
                and time.time() < deadline:
            time.sleep(0.05)
        rss = stats.peak_rss_by_process(os.getpid())
    finally:
        child.kill()
        child.wait()
    pids = [int(k.split()[0]) for k in rss]
    assert child.pid in pids and os.getpid() not in pids
    assert all(v > 1.0 for k, v in rss.items()
               if int(k.split()[0]) == child.pid)
