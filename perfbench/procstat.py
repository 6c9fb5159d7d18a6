"""Process-tree CPU and memory, and host conditions, read from ``/proc``.

The benchmark's own process is the root of the tree: it launches the
Spark JVM, which forks the ``pyspark.daemon`` that forks the Python
workers. CPU counts a process's own time plus the time of children it has
reaped, so a worker that exits between two samples is not lost once its
parent reaps it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of one process, or None once
    it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _cpu_rss(pid: int) -> tuple[float, int]:
    st = _stat(pid)
    if st is None:
        return 0.0, 0
    f = st[1]
    # fields (1-based in proc(5)): utime 14, stime 15, cutime 16, cstime 17,
    # rss 24; ``f`` starts at field 3 (state)
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK, int(f[21]) * _PAGE


def tree_cpu_rss() -> tuple[float, int]:
    """CPU seconds and resident bytes of this process and its descendants."""
    root = os.getpid()
    cpu, rss = _cpu_rss(root)
    for pid in descendants(root):
        c, r = _cpu_rss(pid)
        cpu += c
        rss += r
    return cpu, rss


def python_worker_cpu() -> float:
    """CPU seconds of the Spark Python workers under this process: every
    process in the subtree of a ``pyspark.daemon`` (the daemon's reaped
    children are in its own counters)."""
    pids: set[int] = set()
    for pid in descendants(os.getpid()):
        # forked workers share the daemon's command line; the set counts
        # each process once
        if pid not in pids and "pyspark.daemon" in _cmdline(pid):
            pids.add(pid)
            pids.update(descendants(pid))
    return sum(_cpu_rss(pid)[0] for pid in pids)


def _kind(pid: int) -> str:
    cmd = _cmdline(pid)
    if "pyspark.daemon" in cmd:
        return "py_workers"
    return "jvm" if cmd.split(" ", 1)[0].endswith("java") else "other"


class TreeSampler:
    """Background sampler of the process tree over a window:
    ``start()`` ... ``stop()`` -> (cpu_s, resident bytes of every sample).
    ``peak_parts`` splits the largest sample into the JVM, the Python
    workers (with their count) and the rest (this driver process).

    The tree is listed once a second and each process classified once; in
    between only the known processes' ``stat`` files are read, so the
    sampler takes little CPU (or interpreter lock) from the driver."""

    INTERVAL = 0.1  # seconds between samples
    RESCAN = 10  # samples between full /proc scans

    def __init__(self):
        self.samples: list[int] = []
        self.peak_parts: dict = {}
        self._kinds: dict[int, str] = {}
        self._pids: list[int] = []
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        if len(self.samples) % self.RESCAN == 0:
            self._pids = [os.getpid()] + descendants(os.getpid())
        parts = {"jvm": 0, "py_workers": 0, "n_py_workers": 0, "other": 0}
        for pid in self._pids:
            if pid not in self._kinds:
                self._kinds[pid] = "other" if pid == os.getpid() else _kind(pid)
            kind = self._kinds[pid]
            parts[kind] += _cpu_rss(pid)[1]
            parts["n_py_workers"] += kind == "py_workers"
        total = parts["jvm"] + parts["py_workers"] + parts["other"]
        if total > max(self.samples, default=-1):
            self.peak_parts = parts
        self.samples.append(total)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            self._sample()

    def start(self) -> None:
        self._cpu0 = tree_cpu_rss()[0]
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, list[int]]:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        return tree_cpu_rss()[0] - self._cpu0, self.samples


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


class HostConditions:
    """``nproc``, MemTotal, load average and the ``/proc/stat`` steal share
    over a window, so runs on a shared host can be told apart."""

    def __init__(self) -> None:
        self._steal0 = _steal_ticks()
        self._t0 = time.time()

    def record(self) -> dict:
        steal1, total1 = _steal_ticks()
        d_total = max(1, total1 - self._steal0[1])
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg()),
            "steal_share": (steal1 - self._steal0[0]) / d_total,
            "window_s": time.time() - self._t0,
        }


def _reap_children() -> None:
    """Collect exit statuses of ended direct children (no zombies left)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _live_descendants() -> list[int]:
    _reap_children()
    return [
        pid
        for pid in descendants(os.getpid())
        if (st := _stat(pid)) is not None and st[1][0] != "Z"
    ]


REAP_TIMEOUT = 20.0  # seconds a descendant gets to exit on its own


def reap_descendants() -> None:
    """Wait for every descendant of this process to end; after
    ``REAP_TIMEOUT`` seconds, SIGTERM then SIGKILL what is left."""
    deadline = time.time() + REAP_TIMEOUT
    while _live_descendants() and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _live_descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while _live_descendants() and time.time() < end:
            time.sleep(0.1)
    _reap_children()
