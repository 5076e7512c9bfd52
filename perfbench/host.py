"""Host record and process-tree memory for one benchmark run.

Read-only use of ``/proc``: steal time from ``/proc/stat``, load from
``/proc/loadavg``, and the memory of this process and every descendant
(the JVM and its Python workers). ``RUSAGE_CHILDREN`` cannot stand in for
the sampler: it only covers children that have ended, so it misses the
live JVM. How the tree's memory is summed without counting shared pages
twice is told at ``tree_rss_bytes``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Machine-wide steal time so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _procs() -> dict[int, tuple[int, str]]:
    """``pid -> (ppid, comm)`` of every process."""
    out: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        out[int(name)] = (int(stat[stat.rfind(")") + 2 :].split()[1]), comm)
    return out


def _tree(root: int, procs: dict[int, tuple[int, str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pids(root: int) -> list[int]:
    return _tree(root, _procs())


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree, shared pages counted once.

    The driver (``root``) and the JVM count their ``VmRSS`` from
    ``/proc/<pid>/status``: they share no pages with the rest of the
    tree. Every other process (the Python worker daemon, the workers it
    forks, short-lived shell commands) counts its ``Pss`` from
    ``smaps_rollup``, as forked workers share pages with the daemon. A
    ``java`` child of the JVM is a helper forked for a shell command that
    has not yet exec'd; its pages are the JVM's, so it is skipped. The
    JVM's ``smaps_rollup`` is not read: with a multi-gigabyte reserved
    heap it cost about 7 ms of CPU per read.
    """
    procs = _procs()
    total = 0
    for pid in _tree(root, procs):
        ppid, comm = procs[pid]
        if comm == "java" and procs.get(ppid, (0, ""))[1] == "java":
            continue
        if pid == root or comm == "java":
            total += _field_kb(f"/proc/{pid}/status", "VmRSS:") * 1024
        else:
            total += _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:") * 1024
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of the process
    tree. Steal time is not charged to a process, so this moves far less
    than wall time when the host takes CPU away."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class RssSampler:
    """Samples the summed RSS of this process tree on a daemon thread
    and keeps the peak. ``cpu_s`` is the thread's own CPU time: it is
    part of the tree's CPU, so the host record reports it."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self.samples += 1
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


class HostRecord:
    """Steal, load and CPU count around a run; printed with the result,
    not as metrics."""

    def __init__(self) -> None:
        self.steal0 = steal_seconds()
        self.load0 = loadavg()

    def finish(self, slots: int, partitions: int) -> dict:
        return {
            "steal_s": round(steal_seconds() - self.steal0, 2),
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
            "nproc": nproc(),
            "spark_slots": slots,
            "shuffle_partitions": partitions,
        }


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size
