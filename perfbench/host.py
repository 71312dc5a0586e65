"""Host readings from /proc: load average, hypervisor steal, peak RSS and
the CPU time of a process tree.

The noise stamp is recorded beside the metrics and never used to alter
them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:]]


def noise_stamp() -> dict:
    """1-minute load average and the cumulative cpu tick counters."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"load1": load1, "ticks": _cpu_ticks()}


def steal_pct(start: dict, end: dict) -> float:
    """Share of cpu ticks stolen by the hypervisor between two stamps
    (steal is the 8th counter of the ``cpu`` line)."""
    delta = [b - a for a, b in zip(start["ticks"], end["ticks"])]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process, in kB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name; None if gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (this process by
    default) and every live descendant, each including the children it
    has reaped. The kernel leaves time the hypervisor stole out of these
    counters."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat_fields(f"/proc/{d}/stat")) is not None:
            parent[int(d)] = int(f[1])
            ticks[int(d)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def jit_cpu_s(pid: int | None) -> float:
    """CPU seconds of the JIT compiler threads of a JVM. The JVM must keep
    them alive (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of an
    ended thread cannot be told apart from the rest of the process."""
    if pid is None:
        return 0.0
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        if (fields := _stat_fields(f"/proc/{pid}/task/{tid}/stat")) is not None:
            total += int(fields[11]) + int(fields[12])
    return total / _TICK
