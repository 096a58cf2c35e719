"""Metric arithmetic shared by the workloads (no Spark needed)."""

from __future__ import annotations

import math
import os
import statistics

TAIL_BEYOND = 10


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples above it: ``floor(100 * (1 - TAIL_BEYOND / n))``, never below
    the median.  Under ``2 * TAIL_BEYOND`` samples that is the median
    itself."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (1 - TAIL_BEYOND / n)))


def percentile(samples: list[float], pct: int) -> float:
    """Nearest-rank percentile (``pct`` = 50 is the lower median)."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def latency_summary(samples: list[float]) -> dict:
    """Median, tail (see :func:`tail_percentile`) and how they were taken."""
    pct = tail_percentile(len(samples))
    return {
        "p50": statistics.median(samples),
        "tail": percentile(samples, pct) if pct > 50 else statistics.median(samples),
        "tail_pct": pct,
        "n": len(samples),
    }


def file_sizes(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            out[os.path.relpath(path, root)] = os.path.getsize(path)
    return out


def write_amp(before: dict[str, int], after: dict[str, int], input_bytes: int) -> float:
    """Bytes of files that are new (or rewritten) since ``before`` divided
    by the bytes of input the workload supplied.  Files written and
    deleted between the two listings are not seen."""
    new = sum(size for path, size in after.items() if before.get(path) != size)
    return new / input_bytes


def space_amp(on_disk: dict[str, int], live: set[str]) -> float:
    """Bytes under the lake root over bytes of the files the live
    snapshots reference (paths relative to the lake root)."""
    live_bytes = sum(on_disk[p] for p in live)
    return sum(on_disk.values()) / live_bytes


def residue_dirs(root: str) -> int:
    """Directories a finished write should not leave behind: VersionedTable
    txn dirs (``<table>/data/<txn>``) that hold no ``.parquet`` file any
    more (the writer's ``_SUCCESS`` and ``.crc`` files do not count), and
    ``__staging_*`` / ``__old_*`` swap dirs."""
    count = 0
    for dirpath, dirs, _files in os.walk(root):
        for d in dirs:
            path = os.path.join(dirpath, d)
            if "__staging_" in d or "__old_" in d:
                count += 1
            elif os.path.basename(dirpath) == "data" and os.path.isdir(
                os.path.join(os.path.dirname(dirpath), "_manifests")
            ) and not any(
                f.endswith(".parquet") for _p, _d, files in os.walk(path) for f in files
            ):
                count += 1
    return count


def tree_peak_rss_mb() -> float:
    """Sum of the peak RSS (VmHWM) of this process and all its
    descendants, in MB.  Each process's peak may fall at a different
    moment, so this is an upper bound on the tree's simultaneous peak.
    VmHWM is a lifetime peak, so the Python driver's share includes the
    benchmark's own input generation and expected-result models."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
