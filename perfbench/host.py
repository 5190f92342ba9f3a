"""Host context and process-tree accounting, read from ``/proc`` and cgroups.

Everything here observes the benchmark's own process tree from outside the
engine: the driver Python process, the JVM it launches and the Python
workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
RSS_INTERVAL_S = 0.25
#: how long stop-time waits for child processes before killing them
CHILD_TIMEOUT_S = 30


def calibrate() -> float:
    """Host-speed canary: the 20M-iteration pure-Python loop of ``bench.py``."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return time.perf_counter() - t0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cgroup_throttling() -> dict:
    """CPU throttling counters of the v1 and v2 cgroup hierarchies, where present."""
    out = {}
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpu/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat"):
        try:
            with open(path) as f:
                stats = dict(line.split() for line in f if line.strip())
        except OSError:
            continue
        for k in ("nr_periods", "nr_throttled", "throttled_time", "throttled_usec"):
            if k in stats:
                out[f"{path}:{k}"] = int(stats[k])
    return out


def host_context() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_1m": loadavg_1m(),
        "cgroup": cgroup_throttling(),
    }


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm (field 2) may hold spaces; fields after the closing paren are fixed
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table: dict[int, tuple[int, int]]) -> list[int]:
    """This process and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant.

    Each live process contributes its own time plus the time of the children
    it has reaped, so workers that already exited are still counted once.
    """
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table) if p in table) / CLK_TCK


def _python_workers() -> list[int]:
    """Python processes below this one: the PySpark daemon and the workers
    it forks."""
    table = _proc_table()
    pids = []
    for pid in _descendants(table):
        if pid == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if b"python" in os.path.basename(argv0):
            pids.append(pid)
    return pids


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class WorkerRssSampler:
    """Background sampler of the peak resident memory (``VmHWM``) of any
    Python worker below this process. Workers are sampled every
    ``RSS_INTERVAL_S``; ``VmHWM`` is the kernel's own high-water mark, so a peak
    between two samples is not lost, only a worker that is born and exits
    between two samples (PySpark reuses its workers)."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            for pid in _python_workers():
                self.peak_mb = max(self.peak_mb, _peak_rss_mb(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_children() -> None:
    """Wait until no process below this one is left; kill stragglers."""
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    while True:
        left = [p for p in _descendants(_proc_table()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + CHILD_TIMEOUT_S
        try:
            os.waitpid(-1, os.WNOHANG)  # reap our own exited children
        except ChildProcessError:
            pass
        time.sleep(0.1)
