"""Small numeric and process helpers shared by the benchmark.

Kept free of Spark imports so the self-test can check them on their own.
"""

from __future__ import annotations

import os
import statistics


def median(values) -> float:
    """Median of a non-empty sequence (``statistics.median``)."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sequence")
    return float(statistics.median(vals))


def merged_cover(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval, and overlapping
    children are counted once."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in child_intervals
        if min(e, end) > max(s, start)
    ]
    return (end - start) - merged_cover(clipped)


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM, kB) of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM line for pid {pid}")


def dir_bytes(root: str, sub: str | None = None) -> int:
    """Bytes of regular files under `root` (or `root/sub`)."""
    base = os.path.join(root, sub) if sub else root
    total = 0
    for dirpath, _, files in os.walk(base):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def dir_files(root: str) -> int:
    """Number of data files under `root` (hidden/CRC side files excluded)."""
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n
