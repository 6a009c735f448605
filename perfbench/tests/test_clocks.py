"""CPU time of the process tree counts reaped children."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import run  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_cpu_counts_a_finished_child():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert run.tree_cpu_s() - before >= 0.25


def test_cpu_ticks_steal_is_a_share_of_all():
    total, steal = run.cpu_ticks()
    assert 0 <= steal <= total
