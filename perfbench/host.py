"""Process-tree CPU and memory, host-noise probes and process shutdown.

Reads /proc directly (Linux). The process tree is the benchmark process
and every descendant: the driver JVM and its Python workers.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
RSS_SAMPLE_S = 0.2  # PeakRss sampling period
ALU_PROBE_S = 0.25  # length of one ALU busy-loop probe
STOP_TIMEOUT_S = 60.0  # how long stop_jvm waits for the JVM and its workers


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    frontier = [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in [os.getpid()] + descendants():
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of the tree as the sum of each process's
    proportional set size, so pages shared by forked Python workers are
    counted once."""
    return sum(_pss_kb(pid) for pid in [os.getpid()] + descendants()) / 1024


class PeakRss:
    """Samples the tree's resident memory in a thread, inside ``measure()``."""

    def __init__(self):
        self.peak = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self.peak = max(self.peak, tree_rss_mb())
            time.sleep(RSS_SAMPLE_S)

    @contextmanager
    def measure(self):
        self.peak = max(self.peak, tree_rss_mb())
        self._active.set()
        try:
            yield self
        finally:
            self._active.clear()
            self.peak = max(self.peak, tree_rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def alu_probe(root: str) -> float:
    """Busy-loop iterations per second on one core: the ALU probe of the
    repository's tools/cpu_capacity.py, in a fresh interpreter that ends
    before this returns."""
    code = f"import cpu_capacity; print(cpu_capacity._burn((0, {ALU_PROBE_S}, 'cpu', 0)))"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.join(root, "tools"),
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    return int(out.stdout) / ALU_PROBE_S


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def stop_jvm() -> list[int]:
    """Shut down the py4j gateway JVM this process launched and wait for
    it and every process it started (Python workers included, even once
    re-parented) to exit. Returns the pids still alive afterwards."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + STOP_TIMEOUT_S
    left = [p for p in started if _alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left
