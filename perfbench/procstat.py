"""Process-tree CPU and memory, and host load, read from ``/proc``.

The measured program is a tree: the Python driver (this process), the
Spark JVM it launches, and the Python workers the JVM forks.  CPU time
is summed over the live tree, counting each process's reaped children
too, so workers that exit between two readings are not lost.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    head, _, tail = raw.rpartition(")")
    return head.partition("(")[2], tail.split()


def _tree() -> dict[int, tuple[str, list[str]]]:
    """``pid -> (comm, stat fields after comm)`` for this process and
    all its descendants."""
    procs: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
                children.setdefault(int(st[1][1]), []).append(int(entry))
    out: dict[int, tuple[str, list[str]]] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendant_pids() -> list[int]:
    me = os.getpid()
    return [pid for pid in _tree() if pid != me]


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1][0] not in ("Z", "X")


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has ended; kill what is
    left after ``timeout_s`` and wait a little more.  Orphans are
    re-parented away from this process, so they are tracked by pid, not
    through the tree; a zombie counts as ended."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def tree_cpu_seconds() -> float:
    """User + system CPU of the live tree plus its reaped children."""
    total = 0
    for _, f in _tree().values():
        # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Background thread that records the peak resident memory of the
    tree's Python and Java processes, and separately of the Python
    workers the JVM forks."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_tree_b = 0
        self.peak_workers_b = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        tree_b = workers_b = 0
        by_comm: dict[str, list[int]] = {}
        for pid, (comm, f) in _tree().items():
            # Short-lived helpers the JVM forks (chmod, readlink, ...) show
            # the JVM's own pages until they exec: counting them would
            # count the JVM twice whenever a sample lands on one.  Only
            # this process, the JVM it launched and Python processes count.
            jvm = comm == "java" and int(f[1]) == me
            if pid != me and not jvm and not comm.startswith("python"):
                continue
            rss = _rss_bytes(pid)
            tree_b += rss
            by_comm.setdefault(comm if pid != me else "driver", []).append(rss >> 20)
            if pid != me and comm.startswith("python"):
                workers_b += rss
        if tree_b > self.peak_tree_b:
            self.at_peak = by_comm
        self.peak_tree_b = max(self.peak_tree_b, tree_b)
        self.peak_workers_b = max(self.peak_workers_b, workers_b)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self._sample()


def host_snapshot() -> dict:
    """CPUs usable by this process, load averages and the host's
    cumulative steal time, to explain a loud run after the fact."""
    with open("/proc/loadavg", encoding="ascii") as f:
        load = [float(x) for x in f.read().split()[:3]]
    steal = 0
    with open("/proc/stat", encoding="ascii") as f:
        for line in f:
            if line.startswith("cpu "):
                fields = line.split()
                steal = int(fields[8]) if len(fields) > 8 else 0
                break
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load, "steal_jiffies": steal}
