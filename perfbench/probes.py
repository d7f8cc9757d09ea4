"""Host and process accounting read from /proc: CPU seconds and resident
memory of the driving process and everything it started (the JVM and
its Python workers), CPU steal, and the geometry a run records."""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_seconds(pid: int, with_children: bool = True) -> float:
    """utime + stime, plus the reaped children's cutime + cstime."""
    st = _stat(pid)
    if st is None:
        return 0.0
    fields = st[11:15] if with_children else st[11:13]
    return sum(int(x) for x in fields) / CLK_TCK


def _rss_bytes(pid: int, key: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """The JVM and its Python workers, found under the driving process."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def split(self) -> tuple[list[int], list[int]]:
        """(JVM pids, Python worker pids) among the descendants."""
        jvm, py = [], []
        for pid in descendants(self.me):
            comm = _comm(pid)
            if comm == "java":
                jvm.append(pid)
            elif comm.startswith("python"):
                py.append(pid)
        return jvm, py

    def cpu(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, of the Python workers alone).

        A live process's cutime holds only children it has reaped, so
        summing utime+stime+cutime+cstime over live processes counts
        each CPU second once."""
        jvm, py = self.split()
        own = cpu_seconds(self.me, with_children=False)
        workers = sum(cpu_seconds(p) for p in py)
        return own + sum(cpu_seconds(p) for p in jvm) + workers, workers


class RssSampler:
    """Samples the summed RSS of the Python workers every ``period``
    seconds on a daemon thread; the JVM's own peak comes from its
    VmHWM, which the kernel keeps exactly."""

    def __init__(self, tree: ProcessTree, period: float = 0.25) -> None:
        self.tree = tree
        self.period = period
        self.peak_workers = 0
        self.jvm_hwm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm, py = self.tree.split()
        self.peak_workers = max(self.peak_workers,
                                sum(_rss_bytes(p) for p in py))
        for p in jvm:
            self.jvm_hwm = max(self.jvm_hwm, _rss_bytes(p, "VmHWM"))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak GB of JVM plus workers."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5)
        return (self.jvm_hwm + self.peak_workers) / 2**30


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate /proc/stat cpu line,
    over user..steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
