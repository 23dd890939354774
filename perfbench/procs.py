"""Process-tree helpers read from ``/proc``: peak RSS of the driver
tree (Python driver, the JVM it launches, and the JVM's Python
workers) and a stop that waits until every descendant has ended."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def tree_pss(root: int) -> dict[int, int]:
    """Resident bytes of each process of the tree, each shared page
    split among the processes mapping it (PSS), so forked Python
    workers are not counted once per worker."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the tree's resident memory on a thread until ``stop``;
    ``peak`` is the largest sum seen, ``at_peak`` its split by
    process name."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def _loop(self) -> None:
        while not self._done.is_set():
            sample = tree_pss(self.root)
            total = sum(sample.values())
            if total > self.peak:
                self.peak = total
                split: dict[str, int] = {}
                for pid, size in sample.items():
                    name = "driver" if pid == self.root else _comm(pid)
                    split[name] = split.get(name, 0) + size
                self.at_peak = split
            self._done.wait(self.interval_s)

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        if os.waitpid(pid, os.WNOHANG) != (0, 0):
            return False  # our own child, now reaped
    except ChildProcessError:
        pass  # not our child: its parent or init reaps it
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kill_descendants(root: int, timeout_s: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every descendant of ``root``, and return
    once each has ended. The set is tracked by pid, so a grandchild
    re-parented when its parent dies is still waited for."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    pids: set[int] = set()
    while True:
        pids = {p for p in pids | set(descendants(root)) if _alive(p)}
        if not pids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive after stop: {sorted(pids)}")
        if time.monotonic() > deadline - timeout_s / 2:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
