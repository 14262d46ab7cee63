"""Resource accounting for this process and everything it started.

A local Spark run spans three kinds of process: this Python driver, the JVM
it launched, and the JVM's Python worker daemon with its forked workers.
Memory and CPU are summed over that whole tree, read from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """This process and every live process below it."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including reaped children (a worker
    that exited is booked to the process that waited for it)."""
    total = 0
    for pid in pids if pids is not None else descendants():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17; st starts at field 3
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def pss_bytes(pids: list[int] | None = None) -> int:
    """Proportional set size of the tree: a page shared by n processes
    counts 1/n in each, so forked Python workers, which share most of their
    pages with the daemon they were forked from, are not counted again."""
    total = 0
    for pid in pids if pids is not None else descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(l.split()[1]) for l in f if l.startswith("Pss:")) * 1024
        except (OSError, StopIteration):  # exited, or a kernel thread
            pass
    return total


class PeakPss:
    """Samples the tree's PSS on a background thread while active."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, pss_bytes())


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is still there at the
    deadline and wait again."""
    pids = [p for p in pids if p != os.getpid()]
    for sig, wait in ((None, timeout), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for p in pids if sig else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if pids:
                time.sleep(0.1)
        if not pids:
            return


def _alive(pid: int) -> bool:
    st = _stat(pid)
    # a zombie has exited; its parent reaps it
    return st is not None and st[0] != "Z"
