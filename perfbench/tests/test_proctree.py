"""The process-tree CPU time keeps the CPU of members that end between two
samples."""

from __future__ import annotations

import subprocess
import sys

from proctree import tree_cpu

# Waits for a line on stdin, then runs a child that burns half a second of
# CPU and ends, reaps it, reports, and idles until killed.
PARENT = r"""
import subprocess, sys, time
print("ready", flush=True)
sys.stdin.readline()
burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
subprocess.run([sys.executable, "-c", burn], check=True)
print("done", flush=True)
time.sleep(60)
"""


def test_tree_cpu_keeps_cpu_of_reaped_child():
    proc = subprocess.Popen(
        [sys.executable, "-c", PARENT], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline() == "ready\n"
        before = tree_cpu(proc.pid)
        proc.stdin.write("go\n")
        proc.stdin.flush()
        assert proc.stdout.readline() == "done\n"
        after = tree_cpu(proc.pid)
    finally:
        proc.kill()
        proc.wait()
    assert after - before >= 0.45
