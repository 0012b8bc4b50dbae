"""CPU and memory of the Spark JVM and its Python workers, read from /proc.

Readings are taken between timed iterations, never by a sampling thread:
CPU is a difference of cumulative counters, and memory is each process's
kernel-kept peak resident set (``VmHWM``).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces; the fields after it are space-separated
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children (so a
    Python worker that exited still counts through its parent)."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def python_rss_peak_mb(root: int) -> float:
    """Largest peak resident set among the tree's Python processes."""
    peak_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        lines = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if lines.get("Name", "").strip().startswith("python") and "VmHWM" in lines:
            peak_kb = max(peak_kb, int(lines["VmHWM"].split()[0]))
    return peak_kb / 1024


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat. Steal is time a
    virtual CPU waited for the host; its share shows a run that shared its
    machine with busy neighbours."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)
