"""Machine-state record: whether a run's numbers can be trusted.

Read from ``/proc`` over the measured window, after the steal ledger
of ``bench.py``: hypervisor steal, CPU burned by processes that are not
this benchmark's (its Python, the driver JVM and the JVM's Python
workers), and load at start. A run that crosses a limit below is
flagged in its output; its numbers are still reported.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
# limits, as shares of the window's CPU capacity (window x cores)
STEAL_MAX_SHARE = 0.05
OTHER_CPU_MAX_SHARE = 0.25
LOAD1_MAX_PER_CORE = 1.5
# an operation is timed clean when the hypervisor stole at most this
# many CPU-seconds (summed over all cores) per second of its wall time
STEAL_OK_PER_S = 0.1


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (self + reaped children) of ``root`` and every live
    descendant."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
        todo.extend(children.get(pid, []))
    return total / CLK_TCK


def steal_s() -> float:
    """Hypervisor steal since boot, summed over all cores, in seconds."""
    return _cpu_fields()[7] / CLK_TCK


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: how fast the machine runs
    right now. A host that slows down between runs shows here too."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Window:
    """CPU accounting between ``start()`` and ``stop()``."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def _sample(self):
        cpu = _cpu_fields()
        busy = sum(cpu[:8]) - cpu[3] - cpu[4]  # user..steal minus idle, iowait
        own = sum(_tree_cpu_s(p) for p in self.pids)
        return busy / CLK_TCK, cpu[7] / CLK_TCK, own

    def start(self) -> None:
        self._a = self._sample()

    def stop(self) -> dict:
        b = self._sample()
        busy, steal, own = (y - x for x, y in zip(self._a, b))
        return {"steal_s": steal, "other_cpu_s": max(0.0, busy - steal - own)}


def flags(state: dict, window_s: float, cores: int) -> list[str]:
    cap = max(window_s, 1e-9) * cores
    out = []
    if state["steal_s"] > STEAL_MAX_SHARE * cap:
        out.append(f"steal {state['steal_s']:.2f} s > {STEAL_MAX_SHARE:.0%} of {cap:.1f} CPU-s")
    if state["other_cpu_s"] > OTHER_CPU_MAX_SHARE * cap:
        out.append(
            f"other-process CPU {state['other_cpu_s']:.2f} s > {OTHER_CPU_MAX_SHARE:.0%} of {cap:.1f} CPU-s"
        )
    if state["load1_start"] > LOAD1_MAX_PER_CORE * cores:
        out.append(f"load1 at start {state['load1_start']:.2f} > {LOAD1_MAX_PER_CORE * cores:.1f}")
    return out
