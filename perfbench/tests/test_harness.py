"""CPU time of the process tree."""

from __future__ import annotations

import os
import subprocess
import sys

from perfbench import harness

BURN = ("import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n")


def test_tree_cpu_counts_live_and_reaped_children():
    before = harness.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", BURN + "print('burnt', flush=True)\ninput()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()  # blocks without using CPU
    live = harness.tree_cpu_s() - before
    child.communicate(b"\n")
    subprocess.run([sys.executable, "-c", BURN], check=True)
    reaped = harness.tree_cpu_s() - before
    assert live >= 0.25
    assert reaped >= live + 0.25


def test_cores_are_half_the_machine():
    assert harness.cores() == max(1, len(os.sched_getaffinity(0)) // 2)
