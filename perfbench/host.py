"""Host-side measurements that do not touch Spark: process start time,
summed resident memory of the benchmark's process tree, and the host-noise
control printed before and after every run."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate CPU time counters (clock ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def process_start_time() -> float:
    """Wall-clock time (epoch seconds) at which this process was started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    with open(f"/proc/{os.getpid()}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state); starttime is field 22
    return btime + int(fields[19]) / _TICKS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """PIDs of every process below ``root``."""
    kids = _children_map()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants: here the Python
    driver, the Spark driver JVM it launched, and the JVM's Python workers."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS.  ``peak`` is the
    highest sum held over two consecutive samples: a child forked by the JVM
    shares the JVM's pages until it execs, and counting that instant would
    add the whole JVM a second time."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        prev = tree_rss_bytes(pid)
        while not self._stop.wait(self.interval_s):
            cur = tree_rss_bytes(pid)
            self.peak = max(self.peak, min(prev, cur))
            prev = cur

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def noise_control() -> dict:
    """Fixed CPU and memory-bandwidth work, a smaller copy of the legacy
    root ``bench.py`` control: a slow matmul or stream pass means neighbours
    on the host were loading it while the run measured."""
    a = np.random.default_rng(0).random((512, 512))
    a @ a
    t0 = time.perf_counter()
    for _ in range(10):
        a = a @ a
        a /= np.abs(a).max()
    matmul_s = time.perf_counter() - t0
    big = np.empty(128 * 1024 * 1024 // 8)
    big[:] = 1.0
    t0 = time.perf_counter()
    for _ in range(4):
        np.multiply(big, 1.0000001, out=big)
    stream_s = time.perf_counter() - t0
    gb = 4 * 2 * big.nbytes / 1e9
    del big
    return {"matmul_s": round(matmul_s, 4),
            "stream_gb_per_s": round(gb / stream_s, 2)}
