"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process, the driver JVM it launches and the
Python workers the JVM forks.  CPU is summed as own + reaped-children
time over the live members, so a worker that exits and is reaped by a
member of the tree is neither lost nor counted twice.

``adopt_orphans`` and ``reap`` make sure no member outlives the
benchmark: a process whose parent ends before it is re-parented to the
benchmark process, which waits for every descendant before it exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)
# PeakRss samples the tree's RSS this often and re-lists its members
# (a /proc walk) at the slower rescan period
_RSS_INTERVAL_S = 0.1
_RESCAN_S = 1.0
# prctl(2) option; see adopt_orphans
_PR_SET_CHILD_SUBREAPER = 36
# how long reap waits for descendants to end on their own before it
# kills them, and how long it then waits for the kills to land
_REAP_GRACE_S = 20.0
_KILL_WAIT_S = 10.0


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list:
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system seconds of every live member plus its reaped
    children."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE_MB


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak_mb`` after exit.

        with PeakRss(os.getpid()) as p:
            ...
        p.peak_mb
    """

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, scanned = tree_pids(self.root), time.monotonic()
        while True:
            if time.monotonic() - scanned > _RESCAN_S:
                pids, scanned = tree_pids(self.root), time.monotonic()
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants.  A descendant
    whose parent ends first (the Python workers of a stopped driver JVM)
    is then re-parented here instead of to init, so ``reap`` still sees
    it and can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap_exited() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap() -> int:
    """Wait until this process has no descendant left, reaping each one
    that ends.  Those still alive after ``_REAP_GRACE_S`` get SIGKILL.
    Returns how many had to be killed; raises if any survives that."""
    me = os.getpid()
    killed = None
    deadline = time.monotonic() + _REAP_GRACE_S
    while True:
        _reap_exited()
        rest = [p for p in tree_pids(me) if p != me]
        if not rest:
            return killed or 0
        if time.monotonic() > deadline:
            if killed is not None:
                raise RuntimeError(f"processes {rest} survived SIGKILL")
            killed = 0
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed += 1
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + _KILL_WAIT_S
        time.sleep(0.05)
