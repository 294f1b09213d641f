"""The process bookkeeping a run uses to leave nothing running."""

import os
import subprocess
import time

from vdbbench import run


def test_descendants_include_grandchildren_and_end_with_them():
    # a shell with one child of its own, as the JVM has its Python workers
    shell = subprocess.Popen(["sh", "-c", "sleep 30 & wait"])
    try:
        deadline = time.monotonic() + 10
        while len(run._descendants(os.getpid())) < 2:
            assert time.monotonic() < deadline, "the grandchild never started"
            time.sleep(0.02)
        below = run._descendants(os.getpid())
        assert shell.pid in [pid for pid, _ in below]
        assert all(run._alive(pid, start) for pid, start in below)
    finally:
        for pid, _ in run._descendants(os.getpid()):
            os.kill(pid, 9)
        shell.wait()
    deadline = time.monotonic() + 10
    while any(run._alive(pid, start) for pid, start in below):
        assert time.monotonic() < deadline, "a killed process is still alive"
        time.sleep(0.02)
    assert run._descendants(os.getpid()) == []
