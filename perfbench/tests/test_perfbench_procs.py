import os
import subprocess
import sys
import time

from procs import PeakRss, ProcTree

# Busy-loops until it has used 0.5 s of CPU, touches 200 MB, then waits to be
# told to exit on stdin.
CHILD = """
import sys, time
while time.process_time() < 0.5:
    pass
buf = bytearray(200 * 2**20)
for i in range(0, len(buf), 4096):
    buf[i] = 1
print("ready", flush=True)
sys.stdin.read()
"""


def _start_child():
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    assert child.stdout.readline().strip() == "ready"
    return child


def test_child_cpu_is_counted_while_alive_and_after_it_is_reaped():
    tree = ProcTree()
    before = tree.cpu_of([os.getpid()])
    child = _start_child()
    try:
        groups = tree.groups()
        assert child.pid in groups["driver"]
        assert 0.45 <= tree.cpu_of([child.pid]) <= 1.5
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    # reaped: its CPU moved into this process's cutime + cstime
    assert tree.cpu_of([os.getpid()]) - before >= 0.45
    assert child.pid not in tree.descendants()


def test_peak_rss_sees_a_child_allocation():
    tree = ProcTree()
    base = ProcTree.rss_of([os.getpid()])
    with PeakRss(tree) as rss:
        child = _start_child()
        try:
            time.sleep(1.2)  # past one process-list refresh
        finally:
            child.stdin.close()
            child.wait(timeout=30)
    assert rss.peak["driver"] >= base + 200 * 2**20
    assert rss.peak_python >= rss.peak["driver"]
    assert rss.peak["jvm"] == 0 and rss.peak["pyworker"] == 0
