"""CPU and resident memory of this process and every descendant, from
/proc.  Spark's event log only sees executor CPU; the Python driver, the
JVM's own threads and the pandas/Arrow Python workers are counted here."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
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
        todo.extend(children.get(pid, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_ms(root: int) -> dict[str, float]:
    """CPU (user + system, including reaped children) of the tree, split
    into the driver process, the JVM and the Python workers."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in tree(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
        ms = sum(int(x) for x in st[11:15]) * 1000.0 / _TICK
        if pid == root:
            out["driver"] += ms
        elif "java" in _cmdline(pid).split(" ")[0]:
            out["jvm"] += ms
        else:
            out["workers"] += ms
    return out


def rss_mb(root: int) -> float:
    """Resident memory of the tree, summed as PSS: a page that forked
    processes share counts once.  (Plain RSS counts it in every process: the
    JVM's brief fork when it spawns a helper would add its whole 1.5 GB.)"""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass  # the process ended after it was listed
    return kb / 1024


class PeakRss:
    """Samples the tree's RSS on a background thread; ``peak`` holds the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self, root: int, every_s: float = 0.2) -> None:
        self.root, self.every_s, self.peak = root, every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb(self.root))
            if self._stop.wait(self.every_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_mb(self.root))
        return self.peak


def steal_ms() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the 8th field of /proc/stat's first line); a noisy neighbour shows here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) * 1000.0 / _TICK
