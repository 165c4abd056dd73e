"""CPU time of the engine: this Python process plus every process it
started (the Spark JVM and the JVM's Python workers), all threads,
the JVM's JIT compiler and garbage collector included: Spark generates
and compiles code for every query, so compiling is part of what each
request costs.

The end-to-end figures of the benchmark are CPU times rather than
wall-clock ones. The host shares its cores with other guests: time
the hypervisor gives to them (steal) and time other processes hold a
core are not counted, so on a 4-vCPU VM ten runs of one workload
spread (interquartile range over median) 0.07-0.10 in CPU per
operation, where wall-clock p50 latency and throughput spread
0.30-0.43 on the same kind of host. What CPU time does
not remove is the host's overall state: while it is oversubscribed
(see ``steal_s`` in each artifact's stamps) the same work costs up to
about 1.6x more CPU. Wall-clock latencies are still printed and kept
in the artifact.
"""

from __future__ import annotations

import os
import resource
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def engine_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    including descendants that have ended. Only grows within a run;
    take differences between two reads."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    ended = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = me.ru_utime + me.ru_stime + ended.ru_utime + ended.ru_stime
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                data = fh.read()
        except OSError:  # the process ended while the table was read
            continue
        # fields after "comm)": state, ppid, ..., utime, stime, cutime, cstime
        rest = data[data.rindex(b")") + 2:].split()
        kids[int(rest[1])].append(int(name))
        ticks[int(name)] = sum(int(x) for x in rest[11:15])
    todo = list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        total += ticks[pid] / _TICK
        todo.extend(kids.get(pid, ()))
    return total
