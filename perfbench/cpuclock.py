"""CPU time of this process and every process it started.

On a shared virtual host the wall time of a run stretches whenever the
hypervisor gives this guest's vCPUs to another guest (steal time), in
spells of tens of seconds to minutes. The CPU time the guest kernel
charges to a process leaves stolen time out, so the CPU time of the
benchmark's process tree (this Python process, the Spark driver JVM and
the Python UDF workers it forks) varies less between runs than their
wall time. It still grows when the host runs every instruction slower.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system seconds of this process and every live descendant,
    including the children each of them has already reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # fields after "(comm)": state ppid ... utime stime cutime cstime
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / TICK

