"""The /proc readers count this process's CPU time and resident memory."""

import time

from perfbench import proc


def test_cpu_s_counts_busy_time():
    c0 = proc.cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert proc.cpu_s() - c0 >= 0.25


def test_peak_rss_covers_this_process():
    assert proc.peak_rss_mb() > 1.0
