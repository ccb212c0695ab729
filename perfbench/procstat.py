"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark's driver Python and the Spark JVM it launches (with the
JVM's Python worker daemons) are measured together: CPU as user+sys
seconds including reaped children, memory as the sum of each live
process's peak resident set (``VmHWM``).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user+sys seconds of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def process_age() -> float:
    """Seconds since this process was started (exec'd), so a time taken
    from inside it includes interpreter start-up and every import."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive
                 if (fields := _stat_fields(p)) and fields[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive
