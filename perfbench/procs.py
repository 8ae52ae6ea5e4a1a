"""Process-tree CPU and memory, and host CPU shares, from ``/proc``."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its live descendants, minus the subtrees of ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:  # utime stime cutime cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def peak_rss_by_process(pids: list[int]) -> dict[str, float]:
    """Peak resident set (``VmHWM``, MB) summed per command name."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:  # the process ended between listing and reading
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Idle and steal percentages of all host CPU time between samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # guest time is already inside user/nice
    return {"idle_pct": 100.0 * (d[3] + d[4]) / total,
            "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total}
