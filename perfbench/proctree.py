"""The benchmark's process tree: peak memory, and waiting for exit.

The tree is this Python process plus every descendant: the Spark JVM, its
Python workers and the streaming job's script processes. Linux only
(reads ``/proc``).
"""

from __future__ import annotations

import os
import signal
import threading
import time

def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, start time) of every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ")"
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(entry)] = (int(fields[1]), int(fields[19]))
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (procs or _procs()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared copy-on-write between forked
    processes (the Python worker daemon and its workers) count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakMemory:
    """Samples the tree's summed PSS on a background thread until stopped.

    A process counts from its second sample on, at the lower of its last
    two readings. That drops children caught between ``vfork`` and
    ``exec``, which share the parent's whole address space for a moment
    and would otherwise count it twice.
    """

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        root, last = os.getpid(), {}
        while not self._stop.is_set():
            procs = _procs()
            now = {(p, procs[p][1]): _pss_bytes(p)
                   for p in [root, *descendants(root, procs)] if p in procs}
            total = sum(min(v, last[k]) for k, v in now.items() if k in last)
            self.peak_bytes = max(self.peak_bytes, total)
            last = now
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (again is a no-op); ``peak_bytes`` stays as read."""
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL and reap the ones still alive
    at the deadline. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.01)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state != "Z":
        return True
    try:  # our own zombie child: reap it
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False
