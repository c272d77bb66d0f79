"""The /proc process-tree reader."""

import os
import subprocess
import sys
import time

from perfbench import proctree


def test_tree_holds_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        time.sleep(0.2)
        assert child.pid in proctree.tree(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_and_rss_of_this_process():
    c0 = proctree.cpu_seconds(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert proctree.cpu_seconds(os.getpid()) - c0 >= 0.2
    assert proctree.rss_bytes(os.getpid()) > 1024 * 1024


def test_peak_rss_sampler_stops():
    with proctree.PeakRss(os.getpid(), interval=0.01) as rss:
        time.sleep(0.05)
    assert rss.peak > 1024 * 1024
    assert not rss._thread.is_alive()
