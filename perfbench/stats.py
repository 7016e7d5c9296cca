"""Summary statistics and process memory readings for the benchmark."""

from __future__ import annotations

import math
import os
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float]:
    """(Q1, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    q = statistics.quantiles(values, n=4)
    return float(q[0]), float(q[2])


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / abs(median(values))


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_by_process(pid: int) -> dict[str, float]:
    """VmHWM in MiB of each descendant of `pid` (the driver JVM and its
    Python workers; `pid` itself is left out), keyed "<pid> <name>"."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            key = f"{p} {fields['Name'].strip()}"
            out[key] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
