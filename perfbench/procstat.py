"""``/proc`` readings for the benchmark's process tree.

The tree is the benchmark's own Python process, the Spark JVM it
launched, and every descendant of the JVM (the PySpark daemon and its
Python workers). All figures come from counters the kernel keeps per
process or thread, read at pass boundaries: CPU ticks from ``stat``, the
peak resident set (``VmHWM``) from ``status``, and the CPU ticks of the
JVM's JIT compiler threads, found by name under ``task/``. A sampling
thread would miss peaks between samples and, in the benchmark's
process, compete with the main thread for the GIL.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat; ``pid`` may be ``"<pid>/task/<tid>"``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcessTree:
    """CPU seconds and peak resident memory of ``os.getpid()`` plus
    ``jvm_pid`` and the JVM's descendants."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def pids(self) -> list[int]:
        return [os.getpid(), *_tree(self.jvm_pid)]

    def cpu_s(self) -> float:
        """utime + stime of every live process in the tree, plus the
        cutime + cstime its members collected from children they reaped
        (finished Python workers)."""
        ticks = 0
        self_pid = os.getpid()
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            # fields 14-17 of /proc/<pid>/stat, counted from 1; the
            # reaped children of this process are the JVM, already counted
            ticks += int(st[11]) + int(st[12])
            if pid != self_pid:
                ticks += int(st[13]) + int(st[14])
        return ticks / _TICK

    def jit_cpu_s(self) -> float:
        """utime + stime of the JVM's JIT compiler threads (``C1`` and
        ``C2 CompilerThread<n>``). A thread that ends takes its ticks
        with it; the JVM is started with compiler threads that do not."""
        ticks = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            return 0.0
        for tid in tids:
            try:
                with open(f"{task_dir}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
            except OSError:
                continue
            st = _stat(f"{self.jvm_pid}/task/{tid}")
            if st is not None:
                ticks += int(st[11]) + int(st[12])
        return ticks / _TICK

    def reset_peaks(self) -> None:
        """Start every process's peak resident set afresh from its
        current size (``clear_refs`` 5); a kernel without it keeps the
        peak since process start."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_bytes(self) -> int:
        """Sum over the tree of each process's peak resident set."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total
