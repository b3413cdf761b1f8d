"""Process-tree helpers read from ``/proc``: resident memory of this process
and every descendant (the JVM and its Python workers), and the wait for
those descendants to end."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = int(fields[19])  # field 22, starttime, in clock ticks after boot
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while the table was read
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid."""
    out = {}
    for pid in (root, *descendants(root)):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                out[pid] = int(fh.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue
    return out


class RssSampler:
    """Samples the tree's resident memory on a thread from ``start`` to
    ``stop``; ``peak`` is the largest total seen, ``peak_by_pid`` its parts."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_pid = tree_rss_bytes(me)
            if sum(by_pid.values()) > self.peak:
                self.peak, self.peak_by_pid = sum(by_pid.values()), by_pid
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)


def wait_descendants_gone(timeout_s: float) -> list[int]:
    """Wait until this process has no descendants; return those still alive
    at the deadline (after SIGKILLing them and reaping what can be reaped)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        _reap()
        alive = descendants(me)
        if not alive:
            return []
        time.sleep(0.1)
    alive = descendants(me)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    time.sleep(0.5)
    _reap()
    return alive


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
