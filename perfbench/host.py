"""Host facts the benchmark must be honest about: which CPUs it may use,
how to pin a process tree to a subset of them, what the hypervisor stole
meanwhile, and how much CPU and memory the process tree used.

Everything here reads ``/proc`` directly; nothing is imported from the
engine.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time
from bisect import bisect_left
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ CPU levels
def available_cpus() -> list[int]:
    """The CPUs this process may run on — the only source of CPU levels."""
    return sorted(os.sched_getaffinity(0))


def scaling_pair(n_available: int) -> tuple[int, int] | None:
    """Largest weak-scaling pair N -> 4N with 4N <= the available count."""
    n = n_available // 4
    return (n, 4 * n) if n >= 1 else None


def check_level(requested: int | None, n_available: int) -> str | None:
    """Error text for a CPU level the host does not have, else None."""
    if requested is None:
        return None
    if requested < 1 or requested > n_available:
        return (f"requested {requested} CPUs but the affinity mask holds "
                f"{n_available}; refusing to run a level the host lacks")
    return None


def process_tree(root: int) -> list[int]:
    """root and every live descendant, via /proc/<pid>/task/*/children."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for kids in Path(f"/proc/{pid}/task").glob("*/children"):
            try:
                todo.extend(int(k) for k in kids.read_text().split())
            except OSError:
                continue
    return out


def pin_tree(cpus: list[int], root: int | None = None) -> None:
    """taskset every thread of every process in the tree to exactly
    ``cpus``. Threads and processes created later inherit the mask."""
    spec = ",".join(str(c) for c in cpus)
    for pid in process_tree(root or os.getpid()):
        subprocess.run(["taskset", "-a", "-p", "-c", spec, str(pid)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       check=False)


def cpu_ticks(cpus: list[int]) -> tuple[int, int]:
    """(total, steal) jiffies summed over the per-CPU /proc/stat lines."""
    want = {f"cpu{c}" for c in cpus}
    tot = steal = 0
    with open("/proc/stat") as fh:
        for line in fh:
            parts = line.split()
            if parts and parts[0] in want:
                vals = [int(x) for x in parts[1:]]
                tot += sum(vals)
                steal += vals[7] if len(vals) > 7 else 0
    return tot, steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


# ------------------------------------------------------------ child processes
_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, however
    deep: a grandchild whose parent exits first (a Python worker of a JVM
    that has shut down) is re-parented here instead of to init, so
    ``end_children`` can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def end_children(grace: float, kill_after: float = 5.0) -> int:
    """Wait until every process in this process's tree has ended and been
    reaped. Processes still alive after ``grace`` seconds get SIGTERM, and
    SIGKILL every ``kill_after`` seconds from then on. Returns how many
    processes had to be signalled."""
    deadline, sig, signalled = time.time() + grace, signal.SIGTERM, set()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:      # no child left, reaped or not
                return len(signalled)
            if pid == 0:
                break
        if time.time() > deadline:
            for pid in process_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, sig)
                    signalled.add(pid)
                except ProcessLookupError:
                    continue
            deadline, sig = time.time() + kill_after, signal.SIGKILL
        time.sleep(0.05)


# ----------------------------------------------------------- tree CPU and RSS
def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident memory with each page shared
    by k processes counted 1/k times, so the tree's sum does not count the
    pages forked Python workers share with their daemon once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_usage(root: int, memory: bool) -> tuple[float, int, int]:
    """(cpu seconds incl. reaped children, proportional resident bytes or 0
    when not ``memory``, live processes) of the tree."""
    cpu, mem = 0.0, 0
    pids = process_tree(root)
    for pid in pids:
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
            mem += _pss(pid) if memory else 0
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        # fields 14-17 of stat: utime stime cutime cstime
        cpu += sum(int(x) for x in f[11:15]) / _TICK
    return cpu, mem, len(pids)


class Sampler:
    """Background sampler of the process tree's cumulative CPU seconds and
    resident memory. The samples let CPU be attributed to any time window
    after the fact (``attribute``). Memory is read every ``mem_every``-th
    sample only: a JVM's smaps_rollup costs ~40 ms of kernel time to read."""

    def __init__(self, interval: float = 0.1, root: int | None = None, mem_every: int = 10):
        self.interval = interval
        self.mem_every = mem_every
        self.root = root or os.getpid()
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.peak_rss = 0
        self.peak_procs = 0                 # processes in the tree at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self, memory: bool | None = None) -> None:
        if memory is None:
            memory = len(self.times) % self.mem_every == 0
        cpu, rss, procs = _tree_usage(self.root, memory)
        # a process that exits before its parent reaps it drops out of the
        # sum for a moment; cumulative CPU never goes down
        self.times.append(time.time())
        self.cpu.append(max(cpu, self.cpu[-1]) if self.cpu else cpu)
        if rss > self.peak_rss:
            self.peak_rss, self.peak_procs = rss, procs

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample(memory=True)


def cpu_at(times: list[float], cpu: list[float], t: float) -> float:
    """Cumulative CPU seconds at time t, linearly interpolated."""
    if not times:
        return 0.0
    i = bisect_left(times, t)
    if i == 0:
        return cpu[0]
    if i >= len(times):
        return cpu[-1]
    t0, t1 = times[i - 1], times[i]
    w = (t - t0) / (t1 - t0) if t1 > t0 else 1.0
    return cpu[i - 1] + w * (cpu[i] - cpu[i - 1])


def attribute(times: list[float], cpu: list[float],
              windows: list[tuple[str, float, float]]) -> dict[str, float]:
    """Core-seconds per window label: the tree's CPU inside [start, end],
    summed over all windows that share a label."""
    out: dict[str, float] = {}
    for label, a, b in windows:
        out[label] = out.get(label, 0.0) + cpu_at(times, cpu, b) - cpu_at(times, cpu, a)
    return out


# ---------------------------------------------------------------- disk bytes
def file_sizes(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files created or grown between two ``file_sizes`` snapshots
    (deleted files are ignored, so a cleaner running meanwhile cannot make
    the figure negative)."""
    return sum(max(0, s - before.get(p, 0)) for p, s in after.items())
