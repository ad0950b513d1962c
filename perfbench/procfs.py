"""Process-tree CPU and memory read straight from ``/proc``.

A snapshot walks every live descendant of the benchmark process: the driver
Python, the JVM it launched, the pyspark daemon and its forked workers.
``utime+stime+cutime+cstime`` per live process counts the CPU of children
that were already reaped (exited pyspark workers land in the daemon's
``cutime``), and a live child is never also in its parent's ``cutime``, so
the sum over the live tree has no double counting.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) or None if it vanished."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may contain spaces and parentheses; fields resume
    # after the LAST ')'
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> dict[int, tuple[int, float]]:
    """{pid: (ppid, cpu seconds)} for ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


class ProcTree:
    """CPU/memory snapshots of this process and all its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def snapshot(self) -> dict:
        tree = descendants(self.root)
        total = sum(cpu for _, cpu in tree.values())
        # the pyspark daemon is the topmost process running pyspark.daemon
        # (its forked workers share its command line); its subtree CPU,
        # reaped workers included, is the Python-worker CPU
        py = 0.0
        for pid, (ppid, _) in tree.items():
            if "pyspark.daemon" in _cmdline(pid) and \
                    "pyspark.daemon" not in _cmdline(ppid):
                py += sum(c for _, c in descendants(pid).values())
        return {"cpu_s": total, "py_worker_cpu_s": py}

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM (each process's own peak) over the live tree, in MB, per
        kind of process: driver python, JVM, pyspark daemon and workers."""
        out: dict[str, float] = {}
        for pid in descendants(self.root):
            cmd = _cmdline(pid)
            kind = ("python_driver" if pid == self.root else
                    "pyspark" if "pyspark.daemon" in cmd else
                    "jvm" if "java" in cmd.split(" ")[0] else "other")
            out[kind] = out.get(kind, 0.0) + _hwm_kb(pid) / 1024.0
        return out


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks of all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0
