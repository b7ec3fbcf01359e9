"""Sample statistics and process/storage probes (no Spark imports)."""

from __future__ import annotations

import os

import numpy as np

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: the guide's rule: a percentile needs this many samples beyond it
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it (p90 needs 100)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def median(values: list[float]) -> float:
    return percentile(values, 50.0) if values else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over the process tree: this driver, the JVM and the
    Python workers alive now (read before the session stops)."""
    return sum(vm_hwm_kb(p) for p in descendants(root_pid)) / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes under ``path`` (kept apart from the engine's own helper, so
    a change to the engine cannot move the measurement)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
