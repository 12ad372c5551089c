"""Paths and process helpers shared by the benchmark modules."""

from __future__ import annotations

import contextlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SCRATCH = os.path.join(WORK, "run")


def quiet(fn, *args, **kwargs):
    """Call fn with Python-level stdout sent to stderr."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args, **kwargs)


def process_tree(pid: int | None = None) -> list[int]:
    """This process and its descendants: the driver JVM and its Python
    worker daemon and workers."""
    pid = pid or os.getpid()
    out = [pid]
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            kids = f.read().split()
    except OSError:
        return out
    for c in kids:
        out += process_tree(int(c))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets of the live process tree."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
