"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is the root process and every descendant (the Python driver,
the JVM it launches and the JVM's Python workers), found by walking
parent links in ``/proc/<pid>/stat`` on each sample.  Each process
counts its proportional set size (``Pss`` in ``smaps_rollup``): pages
shared between processes, such as those of forked Python workers, are
split among them instead of counted once per process.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: str) -> tuple[int, int] | None:
    """Parent and start time (clock ticks after boot) of ``pid``, or None
    if it has exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    fields = raw[raw.rfind(b")") + 2 :].split()
    if fields[0] == b"Z":
        return None
    return int(fields[1]), int(fields[19])


def _started(pid: int) -> int | None:
    st = _stat(str(pid))
    return None if st is None else st[1]


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> dict[int, int]:
    """``root`` and all its live descendants, each with its start time."""
    children: dict[int, list[int]] = {}
    started: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
                started[int(name)] = st[1]
    pids, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in started:
            pids[pid] = started[pid]
            stack.extend(children.get(pid, ()))
    return pids


def wait_gone(pids: dict[int, int], timeout: float = 30.0) -> None:
    """Wait until every process (pid with its start time) has exited; kill
    what is left at the timeout.  A pid whose start time differs has
    been reused by another process and is left alone."""
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p, t in pids.items() if _started(p) == t}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


class PeakSampler:
    """Background thread recording the peak memory of ``root``'s tree and
    every process seen in it (pid and start time)."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = tree_pids(self.root)
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))
            self.seen.update(pids)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
