"""Process-tree and host counters read from /proc (Linux).

The benchmark's process tree is this interpreter, the JVM it launches
and the JVM's Python workers. CPU seconds include children already
reaped (``cutime``/``cstime``), so workers that exit mid-window still
count.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
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
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (each process's own peak resident set)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def host_cpu() -> tuple[int, int]:
    """→ (steal ticks, total ticks) of the host since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest is in user)
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class Window:
    """CPU, steal and load over one timed window."""

    def __init__(self):
        self.pids = tree()
        self.cpu0 = cpu_seconds(self.pids)
        self.steal0, self.total0 = host_cpu()
        self.load0 = load1()

    def close(self) -> dict:
        # a worker that exits mid-window leaves its ticks in its parent's
        # cutime, so the sum over the tree at each end stays comparable
        pids = tree()
        steal1, total1 = host_cpu()
        return {
            "cpu_s": cpu_seconds(pids) - self.cpu0,
            "steal_pct": 100.0 * (steal1 - self.steal0) / max(1, total1 - self.total0),
            "load1": (self.load0 + load1()) / 2,
            "peak_rss_mb": peak_rss_mb(pids),
        }
