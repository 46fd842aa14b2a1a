"""Run-quality and process probes read from /proc (Linux only; every probe
returns None elsewhere instead of failing the run).

Run quality is recorded, never gated:

- foreign CPU share: host busy ticks minus the ticks of this process tree
  (this interpreter, the JVM and its Python workers), over all host ticks;
- steal percentage: hypervisor steal ticks over all host ticks.

Load average is deliberately not used: the benchmark's own JVM keeps it
at about 1.0 on a 4-core host, so it cannot tell foreign load from ours.
"""

from __future__ import annotations

import os


def _host_ticks() -> tuple[int, int, int] | None:
    """(busy, steal, total) ticks over user..steal of the aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, idle, iowait, irq, softirq, steal = vals
    total = sum(vals)
    return total - idle - iowait - steal, steal, total


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (children, grandchildren, ...)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = [], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


def _tree_ticks() -> int:
    me = os.getpid()
    return sum((_proc_stat(p) or (0, 0))[1] for p in [me, *descendants(me)])


class RunQuality:
    """Samples host and own-tree ticks; ``finish()`` returns the shares."""

    def __init__(self) -> None:
        self._host = _host_ticks()
        self._own = _tree_ticks() if self._host else 0

    def finish(self) -> dict[str, float | None]:
        end = _host_ticks()
        if not self._host or not end or end[2] <= self._host[2]:
            return {"foreign_cpu_share": None, "steal_pct": None}
        busy, steal, total = (e - s for e, s in zip(end, self._host))
        own = _tree_ticks() - self._own
        return {
            "foreign_cpu_share": max(0.0, (busy - own) / total),
            "steal_pct": 100.0 * steal / total,
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sizes (VmHWM) of the given processes."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            pass
    return kib / 1024.0
