"""CPU time and resident memory of a process tree, read from Linux ``/proc``.

The benchmark's process tree is the Python driver, the Spark JVM it launches
and the Python workers that the JVM forks. CPU of a tree at one instant is
``utime + stime + cutime + cstime`` summed over its live processes: a child
that exited and was reaped moves its time into its parent's ``c*time``, so
the sum never loses work done by short-lived workers.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    state: str
    start: int  # boot-relative start tick; tells a reused pid apart
    cpu_s: float
    rss_bytes: int


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in rest[11:15])
    rss = int(rest[21]) * _PAGE
    return Proc(pid, int(rest[1]), comm, rest[0], int(rest[19]), ticks / _TICK, rss)


def tree(root: int | None = None) -> list[Proc]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (p := _read(int(name))) is not None:
            procs[p.pid] = p
    kids: dict[int, list[Proc]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p)
    out, todo = [], [procs[root]] if root in procs else []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p.pid, []))
    return out


def cpu_split(procs: list[Proc]) -> dict[str, float]:
    """Cumulative CPU seconds: the whole tree, the JVM, and the Python
    workers under the JVM."""
    jvm = {p.pid for p in procs if p.comm == "java"}
    under_jvm = set(jvm)
    changed = True
    while changed:
        changed = False
        for p in procs:
            if p.ppid in under_jvm and p.pid not in under_jvm:
                under_jvm.add(p.pid)
                changed = True
    return {
        "total": sum(p.cpu_s for p in procs),
        "jvm": sum(p.cpu_s for p in procs if p.pid in jvm),
        "pyworker": sum(p.cpu_s for p in procs if p.pid in under_jvm - jvm),
    }


def rss_mb(procs: list[Proc]) -> float:
    """Total RSS of ``procs``. Of the JVM's children only the Python workers
    count: the others are commands the JVM starts (Hadoop's local file
    system runs ``chmod`` through a shell), and until its exec such a child
    shares the JVM's pages and would count the JVM's memory twice."""
    jvm = {p.pid for p in procs if p.comm == "java"}
    counted = [p for p in procs if p.ppid not in jvm or p.comm.startswith("python")]
    return sum(p.rss_bytes for p in counted) / 2**20


class PeakRss:
    """Samples the tree's total RSS from a background thread while active;
    ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(tree()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(tree()))


def _alive(p: Proc) -> bool:
    q = _read(p.pid)
    return q is not None and q.start == p.start and q.state != "Z"


def wait_gone(procs: list[Proc], timeout_s: float = 20.0) -> list[int]:
    """Wait for every process in ``procs`` to end; SIGKILL the ones still
    running after ``timeout_s`` and wait for those too. Returns the pids
    that had to be killed."""
    killed: list[int] = []
    deadline = time.monotonic() + timeout_s
    while alive := [p for p in procs if _alive(p)]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not end after SIGKILL: {killed}")
            for p in alive:
                try:
                    os.kill(p.pid, signal.SIGKILL)
                    killed.append(p.pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)
    return killed
