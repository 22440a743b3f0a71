"""Counters the benchmark reads from outside the program under test:
bytes on disk, peak resident memory and CPU time, all from the file
system and ``/proc``."""

from __future__ import annotations

import os


def dir_usage(root: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under root."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak(pids) -> None:
    """Restart each process's peak-RSS counter (clear_refs mode 5); where
    the kernel refuses, the peak since process start stands."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    return sum(_hwm_kb(p) for p in pids) / 1024


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of a process (this one by default)
    and its descendants: the JVM and its Python workers, reaped ones
    included through their parents' child times. Unlike wall time it
    does not grow while a shared host runs other tenants' work."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while the table was read
            continue
        # after the command name: state, ppid, ..., utime, stime, cutime, cstime
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid() if root is None else root]
    while todo:
        p = todo.pop()
        if p in procs:
            ticks += procs[p][1]
            todo += kids.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")
