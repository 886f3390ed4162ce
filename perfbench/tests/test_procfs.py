"""The process-tree sampler sees the whole tree under a root, including
short-lived workers that a long-lived daemon forks and reaps — the shape
of a PySpark application (Python process → JVM → pyspark.daemon →
workers)."""

from __future__ import annotations

import subprocess
import sys
import time

from perfbench.procfs import TreeSampler, cpu_seconds, descendants

_WORKER = (
    "import time\n"
    "b = bytearray(64 << 20)\n"
    "b[::4096] = b'x' * len(b[::4096])\n"
    "t = time.time()\n"
    "while time.time() - t < 0.4: pass\n"
)
_DAEMON = (
    "import subprocess, sys, time\n"
    f"for _ in range(3): subprocess.run([sys.executable, '-c', {_WORKER!r}])\n"
    "time.sleep(30)\n"
)
_ROOT = f"import subprocess, sys\nsubprocess.run([sys.executable, '-c', {_DAEMON!r}])\n"


def test_tree_counts_reaped_workers_and_peak_memory():
    root = subprocess.Popen([sys.executable, "-c", _ROOT], start_new_session=True)
    try:
        time.sleep(0.3)
        sampler = TreeSampler(root.pid, interval_s=0.05)
        sampler.start()
        time.sleep(0.5)
        assert len(descendants(root.pid)) >= 2          # daemon + a worker
        time.sleep(1.6)                                  # all three workers done
        out = sampler.stop()
        assert len(descendants(root.pid)) == 1           # only the daemon is left
    finally:
        import os
        import signal

        os.killpg(root.pid, signal.SIGKILL)
        root.wait()
    # workers exited mid-window: their time reaches the daemon's cutime
    assert out["cpu_s"] > 0.6
    assert out["peak_rss_mb"] > 50
    assert out["samples"] >= 10


def test_cpu_of_live_process_grows():
    proc = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.time()\nwhile time.time() - t < 1.2: pass"]
    )
    time.sleep(0.2)
    c0 = cpu_seconds([proc.pid])
    time.sleep(0.6)
    c1 = cpu_seconds([proc.pid])
    proc.wait()
    assert c1 - c0 > 0.3
