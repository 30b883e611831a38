"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the Spark driver JVM and everything it forks (the PySpark
daemon and its Python workers). ``psutil`` is not needed: per process
``/proc/<pid>/stat`` gives user/system ticks of the process and of its
reaped children, and ``/proc/<pid>/status`` gives ``VmRSS``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """``root`` and every live process below it."""
    kids = children_map() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree: each live process's own time
    plus the time of the children it has already reaped."""
    ticks = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime (0-based 11-14 here)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def _pss_bytes(pid: int) -> int | None:
    """Proportional set size: pages shared between forked workers are
    split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


def _rss_bytes(pid: int) -> int:
    st = _stat(pid)
    return int(st[21]) * _PAGE if st is not None else 0  # field 24: rss in pages


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree: the root's RSS plus the PSS of each
    process below it, so forked Python workers are not counted once per
    fork. The root is read from ``stat``, which, unlike a PSS walk of a
    multi-GB JVM, takes no lock the JVM's allocator waits on. A child
    running the root's own executable is the JVM between fork and exec
    of a helper (Hadoop's local file system shells out for permissions):
    it shares the root's pages and is skipped."""
    total = _rss_bytes(root)
    root_exe = _exe(root)
    for pid in descendants(root)[1:]:
        if _exe(pid) == root_exe:
            continue
        pss = _pss_bytes(pid)
        total += pss if pss is not None else 0
    return total


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) ticks summed over all CPUs, from ``/proc/stat``.
    Steal is time a CPU of this (virtual) machine was ready to run but
    the hypervisor ran something else: a sign of a busy host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def load_avg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class RssSampler:
    """Samples the tree's summed RSS on a background thread; ``peak()``
    is the highest sample since the last ``reset()``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak(self) -> int:
        with self._lock:
            return max(self._peak, tree_rss_bytes(self.root))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
