"""Host facts and process-tree accounting, read from /proc (no psutil).

The benchmark runs the driver, the Spark JVM and the PySpark worker
daemon with its forked workers as one process tree; memory is reported
for the whole tree, and the benchmark waits until every process of the
tree has exited before it returns.
"""

from __future__ import annotations

import importlib.util
import os
import time

# A tenth of the hwcontrol probe's 3 GB: long enough to read a slow host
# window, short enough to run in every benchmark process.
MD5_ITERS = 4800


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def md5_single_thread_mb_per_s(root: str) -> float:
    """Single-thread md5 throughput from scripts/hwcontrol.py, so a slow
    host window shows beside the numbers it slowed."""
    spec = importlib.util.spec_from_file_location(
        "hwcontrol", os.path.join(root, "scripts", "hwcontrol.py"))
    hw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(hw)
    hw.TOTAL_ITERS = MD5_ITERS
    secs = hw.md5_thread_secs((1,))[1]
    return MD5_ITERS * hw.BLOCK_BYTES / secs / 1e6


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of each live process of the tree,
    keyed by ``pid:command``."""
    out = {}
    for p in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{p}:{name}"] = _status_kb(p, "VmHWM:") / 1024.0
    return out


def wait_for_descendants(timeout_s: float = 60.0) -> None:
    """Block until every child process of this one has exited."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass  # reap our own exited children
        except ChildProcessError:
            pass
        left = [p for p in descendants() if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[1][0] != "Z"
    except OSError:
        return False
