"""The benchmark's process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launches, and the
pyspark daemon and its forked Python workers under the JVM. CPU is
read as utime+stime plus cutime+cstime, so children that exited and
were reaped still count. Memory of the Python side (the driver, the
daemon and the workers) is the sum of their proportional set sizes,
sampled by a background thread: the workers are forked from the
daemon and share its pages, which a sum of RSS would count once per
live worker. The JVM's memory is read from Spark (see ``trace``).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
#: how long ``Tree.reap`` lets the tree's processes end before SIGKILL
REAP_WAIT_S = 30.0
#: seconds between two memory samples; each sample lists the children
#: of every JVM thread, so it is kept infrequent
MEM_INTERVAL_S = 0.5


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        raw = _read(f"/proc/{pid}/task/{tid}/children")
        if raw:
            out.extend(int(c) for c in raw.split())
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_seconds(pid: int, include_children: bool = True) -> float:
    """utime+stime of ``pid``, plus its reaped children when asked."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if include_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _HZ


def start_seconds(pid: int) -> float:
    """Process start on the CLOCK_BOOTTIME scale."""
    return int(_stat_fields(pid)[19]) / _HZ


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    raw = _read(f"/proc/{pid}/smaps_rollup")
    if raw is None:
        return 0
    for line in raw.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0


def cmdline(pid: int) -> str:
    raw = _read(f"/proc/{pid}/cmdline") or ""
    return raw.replace("\0", " ")


def is_alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


class Tree:
    """The process tree rooted at this process."""

    def __init__(self):
        self.root = os.getpid()
        self.seen: set[int] = set()

    def pids(self) -> list[int]:
        pids = [self.root] + descendants(self.root)
        self.seen.update(pids[1:])
        return pids

    def cpu_seconds(self) -> float:
        return sum(cpu_seconds(p) for p in self.pids())

    def jvm_pid(self) -> int | None:
        for p in children(self.root):
            if "java" in cmdline(p).split(" ", 1)[0]:
                return p
        return None

    def split_cpu(self) -> dict[str, float]:
        """CPU seconds of the driver, the JVM itself, and the Python
        worker side (the pyspark daemon and workers under the JVM)."""
        jvm = self.jvm_pid()
        out = {"driver": cpu_seconds(self.root, include_children=False),
               "jvm": 0.0, "workers": 0.0, "n_workers": 0}
        if jvm is not None:
            out["jvm"] = cpu_seconds(jvm, include_children=False)
            under = descendants(jvm)
            out["workers"] = sum(cpu_seconds(p) for p in under)
            # workers are forked from the daemon, so they share its cmdline
            out["n_workers"] = sum(len(children(p)) for p in children(jvm)
                                   if "pyspark.daemon" in cmdline(p))
        return out

    def python_pss_bytes(self) -> int:
        """Summed PSS of every process of the tree but the JVM."""
        jvm = self.jvm_pid()
        return sum(pss_bytes(p) for p in self.pids() if p != jvm)

    def reap(self) -> list[int]:
        """Wait for every process this tree ever held to end; SIGKILL
        the ones still alive after ``REAP_WAIT_S``. Returns the killed pids."""
        self.pids()
        left = [p for p in self.seen if is_alive(p)]
        deadline = time.monotonic() + REAP_WAIT_S
        while left and time.monotonic() < deadline:
            time.sleep(0.1)
            left = [p for p in left if is_alive(p)]
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while any(is_alive(p) for p in left) and time.monotonic() < deadline:
            time.sleep(0.1)
        return left


class PeakMem(threading.Thread):
    """Peak of the Python side's summed PSS, sampled every
    ``MEM_INTERVAL_S`` seconds."""

    def __init__(self, tree: Tree):
        super().__init__(daemon=True)
        self.tree = tree
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.tree.python_pss_bytes())
            self._stop_evt.wait(MEM_INTERVAL_S)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5.0)
        return self.peak


def loadavg() -> list[float]:
    return [float(x) for x in (_read("/proc/loadavg") or "0 0 0").split()[:3]]


def cpu_jiffies() -> list[int]:
    """The aggregate 'cpu' line of /proc/stat."""
    line = (_read("/proc/stat") or "cpu 0").splitlines()[0]
    return [int(x) for x in line.split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0
