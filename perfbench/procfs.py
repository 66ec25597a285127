"""CPU time and resident memory of the Spark process tree, read from /proc.

The tree is rooted at the driver JVM. PySpark's daemon and its Python
workers are its descendants. A process's CPU is its own ``utime + stime``
plus ``cutime + cstime``, the CPU of children it has already reaped, so a
worker that exits between two snapshots is still counted, through its
parent.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    self_ticks: int  # utime + stime
    reaped_ticks: int  # cutime + cstime
    hwm_kb: int  # VmHWM, the process's high-water RSS
    rss_kb: int  # VmRSS


def _split_stat(stat: str) -> tuple[str, list[str]]:
    """(comm, fields from field 3 on) of a ``stat`` line. comm may hold
    spaces and parentheses, so the fields follow the last ')'."""
    lpar, rpar = stat.index("("), stat.rindex(")")
    return stat[lpar + 1 : rpar], stat[rpar + 2 :].split()


def read_proc(pid: int, root: str = "/proc") -> Proc | None:
    """One process's record, or None if it vanished while being read."""
    try:
        with open(f"{root}/{pid}/stat") as f:
            stat = f.read()
        with open(f"{root}/{pid}/status") as f:
            status = f.read()
    except OSError:
        return None
    comm, fields = _split_stat(stat)
    mem = {"VmHWM:": 0, "VmRSS:": 0}
    for line in status.splitlines():
        key = line[:6]
        if key in mem:
            mem[key] = int(line.split()[1])
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        comm=comm,
        self_ticks=int(fields[11]) + int(fields[12]),
        reaped_ticks=int(fields[13]) + int(fields[14]),
        hwm_kb=mem["VmHWM:"],
        rss_kb=mem["VmRSS:"],
    )


def tree(root_pid: int, root: str = "/proc") -> dict[int, Proc]:
    """Every live process in the tree under ``root_pid``, by pid."""
    procs = {}
    for name in os.listdir(root):
        if name.isdigit():
            p = read_proc(int(name), root)
            if p is not None:
                procs[p.pid] = p
    out, frontier = {}, [root_pid]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            frontier.extend(q.pid for q in procs.values() if q.ppid == pid)
    return out


@dataclass(frozen=True)
class CpuSample:
    jvm_s: float  # the JVM's own threads
    python_s: float  # every descendant, live or reaped


def cpu(procs: dict[int, Proc], root_pid: int) -> CpuSample:
    """Cumulative CPU seconds of a tree snapshot, split JVM / Python."""
    jvm = procs.get(root_pid)
    jvm_self = jvm.self_ticks if jvm else 0
    rest = sum(p.self_ticks + p.reaped_ticks for p in procs.values() if p.pid != root_pid)
    rest += jvm.reaped_ticks if jvm else 0
    return CpuSample(jvm_self / CLK_TCK, rest / CLK_TCK)


# JVM thread names (as truncated in /proc) -> what the thread does
THREAD_CLASSES = (
    ("Executor task l", "task"),  # Executor task launch worker for task N
    ("C1 CompilerThre", "jit"),
    ("C2 CompilerThre", "jit"),
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
    ("VM Thread", "gc"),
)


def thread_class(name: str) -> str:
    """``task``, ``jit``, ``gc`` or ``driver`` (scheduler, py4j, netty, ...)."""
    return next((c for prefix, c in THREAD_CLASSES if name.startswith(prefix)), "driver")


def threads(pid: int, root: str = "/proc") -> dict[int, tuple[str, int]]:
    """tid -> (thread name, utime + stime ticks) of every live thread."""
    out = {}
    try:
        tids = os.listdir(f"{root}/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{root}/{pid}/task/{tid}/stat") as f:
                name, fields = _split_stat(f.read())
        except OSError:
            continue
        out[int(tid)] = (name, int(fields[11]) + int(fields[12]))
    return out


def thread_cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per ``thread_class`` between two ``threads`` snapshots,
    counting threads alive at the second one (a new thread from 0)."""
    out = {"task": 0.0, "jit": 0.0, "gc": 0.0, "driver": 0.0}
    for tid, (name, ticks) in after.items():
        prev = before.get(tid)
        base = prev[1] if prev and prev[0] == name else 0
        out[thread_class(name)] += (ticks - base) / CLK_TCK
    return out


def host_ticks(root: str = "/proc") -> tuple[int, int]:
    """(all, steal) CPU ticks of the host's vCPUs so far, from ``stat``:
    steal is time the hypervisor ran something else on them."""
    with open(f"{root}/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


class PeakRss:
    """The largest ``VmHWM`` of any one descendant of ``root_pid`` (a
    Python worker), sampled every ``interval_s`` in a background thread.
    How many workers live at once is up to Spark's worker pool, so their
    sum is not reported."""

    def __init__(self, root_pid: int, interval_s: float = 0.5, root: str = "/proc"):
        self._root_pid, self._interval, self._root = root_pid, interval_s, root
        self._worker_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        snap = tree(self._root_pid, self._root)
        worker = max((p.hwm_kb for p in snap.values() if p.pid != self._root_pid), default=0)
        with self._lock:
            self._worker_kb = max(self._worker_kb, worker)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def mb(self) -> float:
        """The largest worker high-water mark so far, in MB."""
        with self._lock:
            return self._worker_kb / 1024.0
