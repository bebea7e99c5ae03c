"""Process-tree bookkeeping: peak RSS sampling and waiting for exits."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_by_pid(pids) -> dict[int, int]:
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed RSS of the Python and Java processes in ``pid``'s
    tree every ``period`` seconds; remembers the peak and each process's
    own peak."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self.peak, self.seen = 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="rss")
        self._thread.start()

    def sample(self) -> None:
        rss = {}
        for p, b in rss_by_pid(tree(self.pid)).items():
            comm = _comm(p)
            # a child the JVM forked but has not exec'd yet (it still
            # carries a thread's name) shares the JVM's pages: skip it
            if comm == "java" or comm.startswith("python"):
                rss[p] = b
                peak = self.seen.setdefault(p, [comm, 0])
                peak[0], peak[1] = comm, max(peak[1], b)
        self.peak = max(self.peak, sum(rss.values()))

    def peaks_mb(self) -> dict[str, float]:
        """Peak RSS per process name (MB), summed over same-named pids."""
        out: dict[str, float] = {}
        for name, b in self.seen.values():
            out[name] = out.get(name, 0.0) + b / (1 << 20)
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak / (1 << 20)


def wait_gone(pids, timeout: float = 60.0) -> list[int]:
    """Waits until none of ``pids`` exists; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
