"""Host facts and process-tree probes, read from /proc (Linux).

The benchmark's own Python process launches the Spark JVM, and the JVM
forks the Python workers, so every process doing engine work is a
descendant of ``os.getpid()``. CPU and RSS are read for that tree only;
other tenants of the machine do not enter the figures.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")
GIB = 1 << 30
# the engine's session defaults (session.py); sizing never exceeds them
DRIVER_HEAP_CAP = 24 * GIB
OFF_HEAP_CAP = 16 * GIB


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def session_sizes(mem_total: int) -> tuple[int, int]:
    """(driver heap, off-heap) bytes: a quarter and an eighth of MemTotal,
    capped at the engine's 24 GiB / 16 GiB defaults, so that heap, off-heap
    and the Python workers together stay well inside the host."""
    return min(DRIVER_HEAP_CAP, mem_total // 4), min(OFF_HEAP_CAP, mem_total // 8)


def steal_s(path: str = "/proc/stat") -> float:
    """Cumulative CPU time the hypervisor stole from this host (the steal
    field of the ``cpu`` line of /proc/stat)."""
    with open(path) as f:
        # cpu user nice system idle iowait irq softirq steal …
        return int(f.readline().split()[8]) / CLK_TCK


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime
    rss_pages: int


def parse_stat(text: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line; ``comm`` may hold spaces and
    parentheses, so the fixed fields are split after the last ')'."""
    head, _, tail = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = tail.split()
    # f[0] is field 3 (state); utime..cstime are fields 14-17, rss field 24
    return ProcStat(
        pid=int(pid_s),
        ppid=int(f[1]),
        comm=comm,
        cpu_ticks=int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
        rss_pages=int(f[21]),
    )


def process_tree(root: int | None = None) -> list[ProcStat]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    procs: dict[int, ProcStat] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue  # exited between listdir and open
        procs[st.pid] = st
    children: dict[int, list[int]] = {}
    for st in procs.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(tree: list[ProcStat]) -> float:
    """CPU seconds of the tree, exited-and-reaped children included."""
    return sum(p.cpu_ticks for p in tree) / CLK_TCK


def python_workers_cpu_s(tree: list[ProcStat], root: int | None = None) -> float:
    """CPU seconds of the Python processes below ``root`` (the Spark
    workers and their daemon), not the driver process itself."""
    root = os.getpid() if root is None else root
    return sum(
        p.cpu_ticks for p in tree if p.pid != root and p.comm.startswith("python")
    ) / CLK_TCK


def engine_rss_bytes(tree: list[ProcStat], root: int | None = None) -> tuple[int, int]:
    """(JVM, Python workers) RSS: the tree minus the driver process, split
    at the JVM."""
    root = os.getpid() if root is None else root
    jvm = sum(p.rss_pages for p in tree if p.comm == "java")
    workers = sum(p.rss_pages for p in tree if p.pid != root and p.comm.startswith("python"))
    return jvm * PAGE_SIZE, workers * PAGE_SIZE


class RssSampler:
    """Samples the engine's RSS on a background thread and keeps, since the
    last ``reset``, the peaks of the JVM, of the Python workers, and of the
    two together (one sample's sum, so not the sum of the two peaks)."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self._peaks = (0, 0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm, workers = engine_rss_bytes(process_tree())
        with self._lock:
            self._peaks = tuple(
                max(p, v) for p, v in zip(self._peaks, (jvm, workers, jvm + workers))
            )

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peaks = (0, 0, 0)
        self._sample()

    def peaks(self) -> tuple[int, int, int]:
        """(JVM, Python workers, both) peak RSS bytes since ``reset``."""
        self._sample()
        with self._lock:
            return self._peaks

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_files(root: str) -> dict[str, int]:
    """{path: size} of every regular file under ``root`` (missing → {})."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                out[path] = os.path.getsize(path)
            except FileNotFoundError:
                pass
    return out


def written_since(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, parquet files) of files that are new or changed in size."""
    changed = [(p, s) for p, s in after.items() if before.get(p) != s]
    return sum(s for _, s in changed), sum(1 for p, _ in changed if p.endswith(".parquet"))
