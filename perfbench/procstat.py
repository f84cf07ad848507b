"""CPU time and resident memory of this process and all its descendants
(the driver's Python, the Spark JVM and its Python workers), read from
``/proc``."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[str, list[str]]:
    """``/proc/<pid>/stat`` fields of ``root`` and all its descendants."""
    stats, children = {}, defaultdict(list)
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
                children[st[1]].append(pid)
    keep, frontier = {}, [str(root)]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            keep[pid] = stats[pid]
            frontier += children[pid]
    return keep


def _jit_ticks(pid: str) -> int:
    """CPU ticks of a JVM's JIT compiler threads (none for other
    processes)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            st = raw[raw.rindex(")") + 2:].split()
            ticks += int(st[11]) + int(st[12])
    return ticks


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """``(work, jit)`` CPU seconds of the tree: user + system time of
    every process, including reaped children (a worker that exits
    mid-pass moves its time into its parent's ``cutime``/``cstime``, so
    the sum stays continuous), split into the JVM's JIT compiler threads
    (``jit``) and everything else (``work``)."""
    tree = _tree(root or os.getpid())
    # fields after the command: utime=11, stime=12, cutime=13, cstime=14
    total = sum(
        sum(int(st[i]) for i in (11, 12, 13, 14)) for st in tree.values()
    )
    jit = sum(_jit_ticks(pid) for pid in tree)
    return (total - jit) / _TICK, jit / _TICK


def steal() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine: time the
    hypervisor gave this machine's CPUs to others, a cause of wall-time
    noise the process tree cannot see in its own CPU time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_rss_mb(root: int | None = None) -> float:
    tree = _tree(root or os.getpid())
    return sum(int(st[21]) for st in tree.values()) * _PAGE / 1e6


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self._interval)


def _running(pid: int) -> bool:
    st = _stat(str(pid))
    return st is not None and st[0] != "Z"


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's gateway pipe (the JVM exits on
    EOF), and wait until every process started under this one has
    ended; kill what is left after ``timeout`` seconds."""
    from pyspark import SparkContext

    me = str(os.getpid())
    started = [int(p) for p in _tree(int(me)) if p != me]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while any(_running(p) for p in started):
        if time.time() > deadline:
            for pid in started:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
