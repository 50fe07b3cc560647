"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launches and the Python
workers the JVM forks. A process's reaped children count in its
``cutime``/``cstime``, so summing ``utime+stime+cutime+cstime`` over the
live tree keeps work that finished in short-lived workers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Sample:
    driver_cpu: float  # seconds
    jvm_cpu: float
    py_cpu: float      # Python workers (every Python process under the JVM)
    rss_mb: float      # resident set of the whole tree

    @property
    def total_cpu(self) -> float:
        return self.driver_cpu + self.jvm_cpu + self.py_cpu

    def minus(self, other: "Sample") -> "Sample":
        return Sample(
            self.driver_cpu - other.driver_cpu,
            self.jvm_cpu - other.jvm_cpu,
            self.py_cpu - other.py_cpu,
            self.rss_mb,
        )


def _stat(pid: int):
    """(ppid, comm, cpu seconds, rss MB) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    rp = raw.rfind(")")
    comm = raw[raw.find("(") + 1:rp]
    fields = raw[rp + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE / 2**20
    return ppid, comm, ticks / _TICK, rss


class ProcessTree:
    """Samples the tree rooted at this process."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def sample(self) -> Sample:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        driver = jvm = py = rss = 0.0
        # walk the tree, remembering whether a JVM sits above each process
        stack = [(self.root, False)]
        while stack:
            pid, under_jvm = stack.pop()
            st = stats.get(pid)
            if st is None:
                continue
            _, comm, cpu, mem = st
            rss += mem
            if pid == self.root:
                driver += cpu
            elif comm == "java":
                jvm += cpu
                under_jvm = True
            elif under_jvm:
                py += cpu
            else:
                jvm += cpu  # launcher shells between the driver and the JVM
            stack.extend((c, under_jvm) for c in kids.get(pid, ()))
        return Sample(driver, jvm, py, rss)
