"""Host-health signals and process memory, read from ``/proc``.

A run is marked invalid, without touching any metric, when the host was
not the benchmark's alone: either the fixed reference job got slower
from the start of the timed region to its end, or other processes
(and the hypervisor, as steal time) kept more than a set share of the
cores busy while it ran.
"""

from __future__ import annotations

import os
import time

#: end / start of the reference time above this marks the run invalid: the
#: host got slower while the workload ran. A drift below 1 is the JVM
#: still warming up and says nothing about other load.
MAX_REF_DRIFT = 1.25
#: busy cores outside this process tree (plus steal) above this marks the
#: run invalid; quiet 4-core runs read 0.01-0.1 (this tree's own I/O
#: shows up as kernel time), and runs that read 0.2-0.4 were 20-30 % slower
MAX_FOREIGN_CORES = 0.25

_TICK = os.sysconf("SC_CLK_TCK")


def ref_job(spark) -> float:
    """One run of the trivial-floor reference: ``bit_xor(xxhash64(id))``
    over 4M generated rows on 8 partitions into the ``noop`` sink. It reads
    no table and runs no engine code, so its time moves with the host."""
    t0 = time.perf_counter()
    (spark.range(0, 1 << 22, 1, 8).selectExpr("bit_xor(xxhash64(id)) AS h")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def warm_ref(spark, window: int = 2, tolerance: float = 0.1,
             max_reps: int = 15) -> float:
    """Repeat the reference until the best of the last ``window`` runs is
    within ``tolerance`` of the best of the ``window`` before them; return
    that best (the start sample). Early runs are slow while the JVM warms
    up, so an unwarmed start sample reads as a host that sped up."""
    times = [ref_job(spark) for _ in range(2 * window)]
    while (min(times[-window:]) < (1 - tolerance) * min(times[-2 * window:-window])
           and len(times) < max_reps):
        times.append(ref_job(spark))
    return min(times[-window:])


def end_ref(spark, window: int = 2) -> float:
    """The end sample: best of ``window`` runs, like the start sample."""
    return min(ref_job(spark) for _ in range(window))


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return user + nice + system + irq + softirq, steal


def _tree_jiffies(root: int) -> int:
    """CPU jiffies of ``root`` and every live descendant, with children
    they have already reaped."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats)


class ForeignLoad:
    """Cores kept busy by anything other than this process tree, averaged
    over the interval from construction to :meth:`cores`."""

    def __init__(self) -> None:
        self._t = time.time()
        self._busy, self._steal = _cpu_jiffies()
        self._own = _tree_jiffies(os.getpid())

    def cores(self) -> float:
        busy, steal = _cpu_jiffies()
        own = _tree_jiffies(os.getpid())
        foreign = (busy - self._busy) - (own - self._own) + (steal - self._steal)
        return max(0.0, foreign / _TICK / (time.time() - self._t))


def verdict(ref_start: float, ref_end: float, foreign_cores: float) -> list[str]:
    """Reasons the run is invalid; empty when the host was healthy."""
    why = []
    drift = ref_end / ref_start
    if drift > MAX_REF_DRIFT:
        why.append(f"reference drift {drift:.3f} > {MAX_REF_DRIFT}")
    if foreign_cores > MAX_FOREIGN_CORES:
        why.append(f"foreign load {foreign_cores:.2f} cores > {MAX_FOREIGN_CORES}")
    return why


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
